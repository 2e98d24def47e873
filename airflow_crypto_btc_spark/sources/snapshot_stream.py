"""Streaming source over the snapshot table's commit log — the
Delta-streaming-source analog for `sources/snapshot_table.py`.

Offsets are COMMIT VERSIONS: a micro-batch is the half-open version
interval ``(start, end]``, and its rows are exactly the rows in the files
ADDED by append commits in that interval.  Version files are immutable
once written, so re-reading an interval replays exactly the same rows —
checkpoint recovery (``readBetweenOffsets``) is exactly-once by the same
argument as the day_csv source's immutable day files.

Non-append commits in the interval:

- ``compact`` adds files but no new ROWS (a pure rewrite of the live
  set): skipped — streaming consumers see each row once even across
  compactions, because compaction outputs are never treated as changes.
- ``overwrite`` / ``upsert`` rewrite row content; a row-level stream
  needs key diffs (see `snapshot_changes`), so the source FAILS on them
  unless ``ignore_changes=true`` (Delta's ``skipChangeCommits``
  semantics: the rewrite commit is skipped entirely — its rows are NOT
  re-emitted — and streaming resumes at subsequent appends.  Delta's
  similarly-named ``ignoreChanges`` would instead re-emit the rewritten
  files; this source deliberately implements the skip variant).

The stream's schema is the table's logged schema at load time; a part
written before a column was added emits null for it.

Driver-side row feed (`SimpleDataSourceStreamReader`) via pyarrow —
correct at the incremental cadence this table sees (per-day appends); a
firehose table would promote to the partition-planned stream reader with
one input partition per added file, identical offset design.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

from airflow_crypto_btc_spark.sources.snapshot_table import (
    _DATA_DIR,
    _list_versions,
    _log_path,
    current_snapshot,
)


def _entries_between(table: str, lo: int, hi: int) -> list[dict]:
    import json

    out = []
    for v in _list_versions(table):
        if lo < v <= hi:
            with open(_log_path(table, v)) as fh:
                out.append(json.load(fh))
    return out


class SnapshotStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema, options: dict):
        self._table = options.get("path")
        if not self._table:
            raise ValueError("snapshot_stream source requires option 'path'")
        self._ignore_changes = (
            str(options.get("ignore_changes", "false")).lower() == "true"
        )
        self._fields = schema.fieldNames()

    def initialOffset(self) -> dict:
        return {"version": -1}

    def _added_files(self, lo: int, hi: int) -> list[str]:
        files: list[str] = []
        for entry in _entries_between(self._table, lo, hi):
            op = entry.get("operation")
            if op == "append":
                files.extend(entry.get("add", []))
            elif op == "compact":
                continue  # rewrite of existing rows: no new data
            elif not self._ignore_changes:
                raise ValueError(
                    f"commit v{entry.get('version')} is a row-rewriting "
                    f"'{op}'; restart from a fresh checkpoint or set "
                    "ignore_changes=true to skip rewrites"
                )
        return files

    def _rows(self, files: list[str]):
        import pyarrow.dataset as ds

        for part in files:
            path = os.path.join(self._table, _DATA_DIR, part)
            if not os.path.exists(path):
                continue  # vacuumed beyond the retention horizon
            table = ds.dataset(path, format="parquet").to_table()
            cols = [
                table[f].to_pylist()
                if f in table.column_names
                else [None] * table.num_rows  # predates the column
                for f in self._fields
            ]
            yield from zip(*cols)

    def read(self, start: dict):
        versions = _list_versions(self._table)
        latest = versions[-1] if versions else -1
        if latest <= start["version"]:
            return iter(()), start
        end = {"version": latest}
        files = self._added_files(start["version"], latest)
        return iter(list(self._rows(files))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(
            self._added_files(start["version"], end["version"])
        )


class SnapshotStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_stream source requires option 'path'")
        snap = current_snapshot(path)
        if not snap.files:
            raise ValueError(
                f"snapshot_stream: {path} has no committed parts to take "
                "a schema from"
            )
        return snap.schema

    def simpleStreamReader(self, schema) -> SnapshotStreamReader:
        return SnapshotStreamReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(SnapshotStreamSource)
