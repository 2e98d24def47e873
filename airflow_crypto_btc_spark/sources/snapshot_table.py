"""Log-structured snapshot table format — ACID semantics for plain parquet.

The reference gets transactional rewrites from SQLite
(`/root/reference/dags/dag_btc_daily.py:287-295` — ``BEGIN; DELETE;
INSERT; COMMIT``) and idempotent re-runs from a unique index (``:147-155``).
Plain parquet directories have neither: ``mode("overwrite")`` deletes
before it writes (a reader can see an empty table), and a re-run day
double-appends.  This module adds the standard log-structured fix, the
same public design Delta Lake / Iceberg use, reduced to its core:

- Data files are immutable parquet parts under ``<table>/data/``;
  **the log, not the directory listing, defines the table**.
- ``<table>/_log/<version 8-digit>.json`` holds one commit each: a JSON
  record of ``add`` / ``remove`` file actions plus optional app-level
  transaction ids.
- A commit that adds parts also logs their Spark schema (``schema``)
  and per-part stats (row count, min/max), taken on the one job that
  wrote them.  A snapshot's schema is the union of its live parts'
  logged schemas: no read infers anything from parquet footers.
- A commit is ONE ``O_CREAT|O_EXCL`` create of the next version file —
  atomic on POSIX and object stores with put-if-absent.  Losers of a race
  re-read the log and retry (optimistic concurrency).
- Readers replay the log to a version: old snapshots stay fully readable
  (time travel), concurrent readers never observe a half-written state
  because data files are written *before* the log entry that reveals them.

Scale notes: the log is tiny (file names, not data) and replay is
O(#commits); at 100 TB the data files are the same parquet Spark already
scans — predicate pushdown / partition pruning are untouched.  Upsert is
copy-on-write MERGE: rewrite only with the merged result, never in place.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import uuid
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"

#: commit-entry shape (2: entries that add parts log their schema);
#: cached table copies key on it, so an older copy is rebuilt, not misread
LOG_FORMAT = 2

#: column types that get min/max stats in the commit log (data skipping)
_STATS_TYPES = {
    "int", "bigint", "smallint", "tinyint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "string",
}


class SnapshotSchemaError(RuntimeError):
    """A snapshot's live parts have no one logged schema: a part whose
    commit logged none (a table written before the log held schemas) or
    a column typed differently by two parts.  Not a ``ValueError``, so
    no caller that treats an empty table or an empty compact as benign
    (``except ValueError``) can swallow it."""


@dataclass
class Snapshot:
    version: int
    files: list[str]
    txn_ids: set[str] = field(default_factory=set)
    stats: dict[str, dict] = field(default_factory=dict)
    #: free-form commit metadata (e.g. the source-corpus version an index
    #: was built from); the LATEST commit that carried meta wins
    meta: dict = field(default_factory=dict)
    table: str = ""
    #: live part -> the schema JSON its adding commit logged, in commit
    #: order (the parts of one commit share one dict)
    part_schemas: dict[str, dict] = field(default_factory=dict, repr=False)

    @cached_property
    def schema(self) -> StructType:
        """Union of the live parts' logged schemas — what a read of this
        snapshot surfaces.  Fields come in commit order, so a commit that
        adds a column appends it; pre-evolution parts read it as null.
        A same-name type conflict raises :class:`SnapshotSchemaError`,
        and so does a live part whose
        commit logged no schema (there is no footer-inference fallback)."""
        missing = [f for f in self.files if f not in self.part_schemas]
        if missing:
            raise SnapshotSchemaError(
                f"snapshot table {self.table}: live part {missing[0]} has "
                "no schema in the commit log"
            )
        fields: dict[str, StructField] = {}
        for logged in {id(s): s for s in self.part_schemas.values()}.values():
            for f in StructType.fromJson(logged).fields:
                have = fields.setdefault(
                    f.name, StructField(f.name, f.dataType, True, f.metadata)
                )
                t, u = have.dataType.simpleString(), f.dataType.simpleString()
                if t != u:
                    raise SnapshotSchemaError(
                        f"snapshot table {self.table}: column {f.name!r} "
                        f"is {t} in one part and {u} in another"
                    )
        return StructType(list(fields.values()))


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:08d}.json")


def _list_versions(table: str) -> list[int]:
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.endswith(".json")
    )


def current_snapshot(table: str, version: int | None = None) -> Snapshot:
    """Replay the commit log up to ``version`` (default: latest).  The
    returned file set IS the table at that version."""
    versions = _list_versions(table)
    if version is not None:
        versions = [v for v in versions if v <= version]
    files: set[str] = set()
    txns: set[str] = set()
    stats: dict[str, dict] = {}
    schemas: dict[str, dict] = {}
    meta: dict = {}
    last = -1
    for v in versions:
        with open(_log_path(table, v)) as fh:
            entry = json.load(fh)
        for a in entry.get("add", []):
            files.add(a)
            if a in entry.get("stats", {}):
                stats[a] = entry["stats"][a]
            if "schema" in entry:
                schemas[a] = entry["schema"]
        for r in entry.get("remove", []):
            files.discard(r)
            stats.pop(r, None)
            schemas.pop(r, None)
        if entry.get("txn_id"):
            txns.add(entry["txn_id"])
        if entry.get("meta"):
            meta = entry["meta"]
        last = v
    return Snapshot(
        version=last, files=sorted(files), txn_ids=txns, stats=stats,
        meta=meta, table=table, part_schemas=schemas,
    )


def _txn_entry(table: str, txn_id: str) -> tuple[int, dict] | None:
    """(version, log entry) of the commit that carried ``txn_id``.
    Scans NEWEST-FIRST with early exit: callers are replay branches of
    streaming maintainers probing for their OWN batch's txn, which —
    when present at all — sits in the most recent commits, so the
    common per-micro-batch probe opens O(1) log files instead of
    O(#commits) (round-9 ADVICE: the oldest-first scan made a
    long-running stream's cumulative replay cost quadratic).  A miss
    (fresh txn) still reads the whole log once — same cost as the
    ``current_snapshot`` replay every commit already pays."""
    for v in reversed(_list_versions(table)):
        with open(_log_path(table, v)) as fh:
            entry = json.load(fh)
        if entry.get("txn_id") == txn_id:
            return v, entry
    return None


def txn_version(table: str, txn_id: str) -> int | None:
    """Version of the commit that carried ``txn_id`` (``None`` if no
    commit did).  With :func:`snapshot_changes` this lets a replayed
    multi-commit batch recover exactly WHAT its already-landed state
    commit folded (the rows of that version's added files) and derive
    its remaining commits from that record — the second half of the
    deterministic-replay pattern (:func:`txn_meta` covers pinned scalar
    inputs; this covers pinned row sets).  Newest-first early-exit scan
    (txn ids are unique in the log: idempotent retries skip instead of
    re-committing, and the put-if-absent file is the arbiter)."""
    hit = _txn_entry(table, txn_id)
    return hit[0] if hit else None


def txn_meta(table: str, txn_id: str) -> dict | None:
    """Commit metadata of the log entry that carried ``txn_id`` (``None``
    if no commit did).  Multi-commit maintenance batches use this to make
    replays deterministic: the FIRST (CAS-serialized) commit records the
    exact inputs its fold was computed from — e.g. the quota sink's
    per-domain prior counts — and a replayed batch recomputes its
    follow-up commits from that pinned record instead of from live state
    that has already moved past the fold.  Newest-first early-exit scan
    (see :func:`_txn_entry`)."""
    hit = _txn_entry(table, txn_id)
    return (hit[1].get("meta") or {}) if hit else None


def _json_safe(v):
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _stat_cols(schema: StructType) -> list[str]:
    """The columns that get min/max stats in the commit log."""
    return [
        f.name
        for f in schema.fields
        if f.dataType.simpleString() in _STATS_TYPES
    ]


def _stats_spec(cols: list[str]):
    """``(aggregates, row -> stats)`` for a part's commit-log stats: the
    min/max of ``cols`` (the data skipping Delta/Iceberg keep per file)
    and its ROW COUNT under the reserved ``__nrows`` key, which makes a
    table's size a METADATA question (the merge-on-read serve's overdue
    gate needs it).  JSON-safe: temporal values as ISO strings
    (lexicographic order == chronological order); an all-null column
    gets no range."""
    aggs = [F.count(F.lit(1)).alias("__nrows")]
    for c in cols:
        aggs += [F.min(c).alias(f"mn__{c}"), F.max(c).alias(f"mx__{c}")]

    def to_stats(row: dict) -> dict:
        out = {
            c: [_json_safe(row[f"mn__{c}"]), _json_safe(row[f"mx__{c}"])]
            for c in cols
            if row[f"mn__{c}"] is not None
        }
        out["__nrows"] = int(row["__nrows"])
        return out

    return aggs, to_stats


def snapshot_nrows(snap: Snapshot) -> int | None:
    """EXACT live row count derived purely from the per-part ``__nrows``
    stats — no scan job.  Every part's count is computed at staging
    time and rewrites re-stage their parts, so the sum over the live
    file set is the table's row count at that snapshot.  Returns
    ``None`` when any live part predates row-count stats (the caller
    must fall back to a ``count()`` job)."""
    total = 0
    for f in snap.files:
        n = (snap.stats.get(f) or {}).get("__nrows")
        if n is None:
            return None
        total += int(n)
    return total


def _overlaps(file_stats: dict, col: str, lo, hi) -> bool:
    """Conservative overlap test: a file is skippable ONLY when its stats
    prove [min,max] ∩ [lo,hi] = ∅; missing stats keep the file."""
    rng = (file_stats or {}).get(col)
    if not rng:
        return True
    mn, mx = rng
    lo, hi = _json_safe(lo), _json_safe(hi)
    if lo is not None and mx < lo:
        return False
    if hi is not None and mn > hi:
        return False
    return True


def _prune_ranges(prune: tuple) -> tuple[str, list[tuple]]:
    """Normalize the two accepted prune shapes to (col, [(lo, hi), ...]):
    ``(col, lo, hi)`` — one range — and ``(col, ranges)`` where ranges is
    a list of (lo, hi) pairs (a SCATTERED probe set: e.g. the cid/bnum
    list of an ANN probe, one degenerate [v, v] range per value, so a
    clustered table skips every file between two probed keys instead of
    reading the whole [min, max] envelope)."""
    if len(prune) == 3:
        col, lo, hi = prune
        return col, [(lo, hi)]
    col, ranges = prune
    return col, [tuple(r) for r in ranges]


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple | None = None,
) -> DataFrame:
    """Scan exactly the files live at ``version`` — a consistent snapshot
    regardless of concurrent commits or leftover uncommitted parts.

    ``prune=(col, lo, hi)`` additionally skips every file whose logged
    min/max range provably misses [lo, hi] (None = unbounded side) —
    log-level data skipping on top of parquet row-group pruning.
    ``prune=(col, [(lo, hi), ...])`` keeps a file when it overlaps ANY
    of the ranges — multi-range skipping for scattered probe sets (an
    empty list prunes everything: zero probed keys match zero rows).
    The caller still applies its own row filter; pruning is a
    correct-by-construction superset of the matching files."""
    snap = current_snapshot(table, version)
    if not snap.files:
        raise ValueError(f"snapshot table {table} is empty at v{version}")
    files = snap.files
    if prune is not None:
        col, ranges = _prune_ranges(prune)
        files = [
            f
            for f in files
            if any(
                _overlaps(snap.stats.get(f), col, lo, hi)
                for lo, hi in ranges
            )
        ]
    # under the snapshot's logged schema: pruning (even to zero parts)
    # never changes the columns a version surfaces
    return read_parts(spark, table, files, snap)


#: dtypes files_overlapping_keys can range-test; everything else falls
#: back to "every file touched" (conservative, never incorrect)
_RANGE_TEST_TYPES = {
    "int": "bigint", "bigint": "bigint", "smallint": "bigint",
    "tinyint": "bigint", "float": "double", "double": "double",
    "string": "string", "date": "string",
}


def files_overlapping_keys(
    spark: SparkSession, snap: Snapshot, keys_df: DataFrame, col: str
) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (touched, carried): a file is
    TOUCHED when its logged [min, max] range of ``col`` can contain one
    of the probe keys (``keys_df``'s single column) — the Delta/Iceberg
    file-skipping test behind narrowed DELETE/MERGE rewrites, run
    DISTRIBUTED: the broadcast side is the metadata-sized file-range
    table, the key set streams past it, and only #files rows ever reach
    the driver.  Files without stats for ``col``, and key dtypes
    without a faithful cross-range comparison (timestamps survive the
    stats JSON round-trip with a different text shape), conservatively
    touch everything — narrowing may only ever widen, never miss a
    matching row.  Integrals compare as bigint (a double cast would
    lose >2^53 precision and could skip a file that matches)."""
    probe_col = keys_df.columns[0]  # probe values; ``col`` names the
    # stats column in the TARGET table (they may differ, e.g. the
    # takedown set's normalized __td_id probing a doc_id-keyed table)
    dtype = dict(keys_df.dtypes).get(probe_col)
    sql_t = _RANGE_TEST_TYPES.get(dtype or "")
    if sql_t is None:
        return sorted(snap.files), []
    if dtype == "date":
        # stats hold ISO date strings; lexicographic == chronological
        probe = keys_df.select(
            F.col(probe_col).cast("string").alias("__k")
        )
    else:
        probe = keys_df.select(
            F.col(probe_col).cast(sql_t).alias("__k")
        )
    coerce = {"bigint": int, "double": float, "string": str}[sql_t]
    # the logged stats carry the TARGET column's native JSON type; a
    # probe whose dtype disagrees with it must not pick the comparison
    # semantics (round-14 ADVICE: str() on a bigint-keyed table's int
    # stats compared '100' < '99' lexicographically and could SKIP a
    # file that contains a matching key — narrowing may only ever
    # widen).  A faithful cross-type compare exists only within the
    # numeric family; any other disagreement keeps the file.
    ok_stat_types = {
        "bigint": (int,),
        "double": (int, float),
        "string": (str,),
    }[sql_t]
    ranged, no_stats = [], []
    for f in snap.files:
        rng = (snap.stats.get(f) or {}).get(col)
        try:
            lo, hi = rng[0], rng[1]
            if not (
                isinstance(lo, ok_stat_types)
                and isinstance(hi, ok_stat_types)
                and not isinstance(lo, bool)
                and not isinstance(hi, bool)
            ):
                raise TypeError("probe/stats dtype mismatch")
            ranged.append((f, coerce(lo), coerce(hi)))
        except (TypeError, ValueError, IndexError):
            no_stats.append(f)  # absent/mistyped stats: keep the file
    hits: set[str] = set()
    if ranged:
        rdf = spark.createDataFrame(
            ranged, f"f string, lo {sql_t}, hi {sql_t}"
        )
        hits = {
            r["f"]
            for r in probe.distinct()
            .join(
                F.broadcast(rdf),
                (F.col("__k") >= F.col("lo"))
                & (F.col("__k") <= F.col("hi")),
            )
            .select("f")
            .distinct()
            .collect()
        }
    touched = sorted(set(no_stats) | hits)
    carried = [f for f in snap.files if f not in set(touched)]
    return touched, carried


def files_overlapping_all_keys(
    spark: SparkSession,
    snap: Snapshot,
    incoming: DataFrame,
    cols: list[str],
) -> tuple[list[str], list[str]]:
    """Compound-key narrowing: a file can hold a row matching an
    incoming key only if it overlaps on EVERY key column, so the
    touched set is the INTERSECTION of the per-column overlap sets —
    strictly tighter than any single column and still conservative
    (each per-column test keeps stat-less or un-comparable files)."""
    touched: set[str] | None = None
    for c in cols:
        t, _ = files_overlapping_keys(
            spark, snap, incoming.select(c), c
        )
        touched = set(t) if touched is None else touched & set(t)
    final = sorted(touched or set())
    carried = [f for f in snap.files if f not in set(final)]
    return final, carried


def read_parts(
    spark: SparkSession,
    table: str,
    files: list[str],
    snap: Snapshot,
) -> DataFrame:
    """Scan an EXPLICIT subset of ``snap``'s part files — the
    copy-on-write rewrite path's reader (a DELETE touches only the
    files whose stats overlap the deletion set; the survivors of those
    files are rewritten, every other file carries over by reference).
    Reads under ``snap``'s logged schema, so no job runs to plan it, a
    part that predates an evolved column reads it as null, and an empty
    subset is a zero-row frame."""
    return spark.read.schema(snap.schema).parquet(
        *[os.path.join(table, _DATA_DIR, f) for f in files]
    )


def read_snapshot_or_none(
    spark: SparkSession, table: str
) -> DataFrame | None:
    """``read_snapshot`` for bootstrap paths: ``None`` when the table
    has no live part yet (first micro-batch of a stream); any other
    failure propagates."""
    snap = current_snapshot(table)
    if not snap.files:
        return None
    return read_parts(spark, table, snap.files, snap)


def fold_base(
    spark: SparkSession, table: str, txn_id: str
) -> tuple[int, DataFrame | None]:
    """``(version, frame)``: ``table`` as the streaming fold committing
    under ``txn_id`` must see it (README, "sink contract"); the frame is
    ``None`` when that version has no live part.

    Normally this is the current version, read pinned AT it, so the
    version is the fold's compare-and-swap anchor and the read can hold
    no commit the anchor does not.  If ``txn_id`` already landed (a
    replay after a crash past the fold's commit), it is the version just
    before that commit (time travel): the live table holds the batch's
    own rows, which would empty its fresh set and change everything
    computed from it.  The replayed commit then skips by txn id, so its
    anchor is never tested."""
    snap = current_snapshot(table)
    if txn_id in snap.txn_ids:
        snap = current_snapshot(table, txn_version(table, txn_id) - 1)
    if not snap.files:
        return snap.version, None
    return snap.version, read_parts(spark, table, snap.files, snap)


def pin(
    what: str,
    *tables: str,
    expect_source: str | None = None,
    agree: tuple[str, ...] | None = ("source_version",),
) -> tuple[Snapshot, ...]:
    """The generation pin of a frozen model or index (README, "Frozen
    inputs"): replay each table's log ONCE and return those snapshots.
    The tables must agree on the ``agree`` meta keys (``None``: the
    whole meta), else a partial rebuild is refused as "``what`` tables
    disagree"; with ``expect_source`` given, each must have been built
    from it (meta ``source_version``), else "stale ``what``".  Callers
    then read exactly the pinned commits (``read_parts(spark, t,
    snap.files, snap)``, ``read_snapshot(..., version=snap.version)``),
    so the meta they trusted and the rows they serve are one commit's."""
    snaps = tuple(current_snapshot(t) for t in tables)

    def gen(meta: dict) -> dict:
        return meta if agree is None else {k: meta.get(k) for k in agree}

    if any(gen(s.meta) != gen(snaps[0].meta) for s in snaps[1:]):
        got = ", ".join(f"{s.table}={gen(s.meta)!r}" for s in snaps)
        raise ValueError(
            f"{what} tables disagree ({got}) — mixed-generation "
            "(partial) rebuild, rebuild them together"
        )
    for s in snaps:
        got = s.meta.get("source_version")
        if expect_source is not None and got != expect_source:
            raise ValueError(
                f"stale {what}: {s.table} built from {got!r}, expected "
                f"{expect_source!r} — rebuild before serving"
            )
    return snaps


def _write_parts(
    df: DataFrame, table: str
) -> tuple[list[str], dict, dict]:
    """Stage one immutable part (INVISIBLE until a commit references it)
    in ONE write job that also observes its stats.  Returns ``(parts,
    stats, schema)``; the commit logs the schema beside the stats.  One
    part dir per staged write keeps names collision-free; stats
    granularity is the part."""
    part = f"part-{uuid.uuid4().hex}"
    aggs, to_stats = _stats_spec(_stat_cols(df.schema))
    obs = Observation()
    df.observe(obs, *aggs).write.mode("error").parquet(
        os.path.join(table, _DATA_DIR, part)
    )
    return [part], {part: to_stats(obs.get)}, df.schema.jsonValue()


def _write_clustered_parts(
    clustered: DataFrame, table: str, stat_cols: list[str]
) -> tuple[list[str], dict, dict]:
    """Stage every range part of a clustered compact in ONE
    ``partitionBy`` write job (each task owns exactly one ``__pid``, so
    each partition dir lands exactly one data file) plus ONE grouped
    aggregate for all per-part stats, instead of one write job per
    part (O(target_parts) sequential driver round-trips took minutes at
    a few thousand files)."""
    part = f"part-{uuid.uuid4().hex}"
    out = os.path.join(table, _DATA_DIR, part)
    written = clustered.drop("__z")
    written.write.partitionBy("__pid").mode("error").parquet(out)
    # the write lands one dir per __pid that holds rows: exactly the
    # groups of this aggregate
    aggs, to_stats = _stats_spec(stat_cols)
    stats = {
        f"{part}/__pid={int(r['__pid'])}": to_stats(r.asDict())
        for r in clustered.groupBy("__pid").agg(*aggs).collect()
    }
    return sorted(stats), stats, written.drop("__pid").schema.jsonValue()


def _try_commit(table: str, version: int, entry: dict) -> bool:
    """put-if-absent of the next log file — the atomic commit point.

    Write-temp-then-hardlink, NOT create-then-write: an O_CREAT|O_EXCL
    create followed by the JSON write has a window where a concurrent
    reader's ``current_snapshot`` opens the already-visible name and
    json-loads an empty file (found by the round-11 multi-process race
    test — in-process racers never hit it).  ``os.link`` publishes the
    fully-written, fsynced content under the version name atomically and
    raises FileExistsError for the race loser, so readers can never
    observe a partial commit and writers keep exclusive-create semantics.
    (On an object store the equivalent is a single put-if-absent, which
    is content-atomic by construction.)"""
    log_dir = os.path.join(table, _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    path = _log_path(table, version)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    except FileNotFoundError:
        # a concurrent vacuum reaped the temp file: this committer
        # stalled past the reaper's age floor between fsync and publish
        # (GC pause, NFS stall).  Nothing was published under the
        # version name, so the commit is simply RETRYABLE — the caller's
        # loop stages a fresh temp file at the same (still-free) version
        return False
    finally:
        # the winner's unlink can race a vacuum reaper that already
        # removed the temp name — both outcomes leave the same state
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


class CommitConflictError(RuntimeError):
    """An ``expect_version`` commit lost its compare-and-swap: another
    writer committed first.  The caller's read-compute-commit span is
    stale and must be retried FROM THE READ, not by re-committing."""


def commit(
    table: str,
    add: list[str],
    remove: list[str],
    operation: str,
    txn_id: str | None = None,
    max_retries: int = 20,
    stats: dict | None = None,
    meta: dict | None = None,
    expect_version: int | None = None,
    schema: dict | None = None,
) -> int:
    """Optimistic-concurrency commit loop: losers re-read the log and retry
    at the next version.  Append-shaped commits are always safe to retry;
    full-replace commits pass their ``remove`` set computed at staging time
    (last-writer-wins, like the reference's DELETE+INSERT).

    ``expect_version`` turns the commit into a COMPARE-AND-SWAP: it
    succeeds only as version ``expect_version + 1`` (i.e. only if the
    table is still exactly at the version the caller read) and raises
    :class:`CommitConflictError` instead of retrying otherwise.  This is
    how read-compute-commit cycles whose correctness depends on the READ
    snapshot (incremental maintenance folding a delta into state) close
    their check-to-commit race: the put-if-absent log file is the atomic
    arbiter, so exactly one of two racing writers can ever win.

    ``schema`` is the added parts' schema JSON (the third value of
    :func:`_write_parts`), logged beside their stats."""
    for _ in range(max_retries):
        version = (current_snapshot(table).version) + 1
        if txn_id and txn_id in current_snapshot(table).txn_ids:
            return -1  # already committed by a racing idempotent retry
        if expect_version is not None and version != expect_version + 1:
            raise CommitConflictError(
                f"{table}: expected to commit v{expect_version + 1} but "
                f"the table is already past it (next free is v{version}) "
                "— re-read and recompute before retrying"
            )
        entry = {
            "version": version,
            "operation": operation,
            "add": add,
            "remove": remove,
            **({"schema": schema} if schema else {}),
            **({"stats": stats} if stats else {}),
            **({"txn_id": txn_id} if txn_id else {}),
            **({"meta": meta} if meta else {}),
        }
        if _try_commit(table, version, entry):
            return version
    raise RuntimeError(f"commit contention on {table} after {max_retries} tries")


def append(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    txn_id: str | None = None,
    meta: dict | None = None,
    expect_version: int | None = None,
) -> int:
    """Transactional append.  ``txn_id`` makes a re-run idempotent: if a
    commit with this id is already in the log (the reference's
    skip-if-done, ``:52-53``), nothing is staged and no commit happens.
    Returns the committed version, or -1 for an idempotent skip.
    ``expect_version`` makes the commit a CAS (see :func:`commit`)."""
    if txn_id and txn_id in current_snapshot(table).txn_ids:
        return -1
    parts, stats, schema = _write_parts(df, table)
    return commit(table, add=parts, remove=[], operation="append",
                  txn_id=txn_id, stats=stats, meta=meta,
                  expect_version=expect_version, schema=schema)


def overwrite(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    meta: dict | None = None,
    expect_version: int | None = None,
) -> int:
    """The reference's transactional rewrite (S7): stage the new data,
    then one commit swaps the entire live set.  Readers see the old table
    until the commit lands, the new one after — never both, never neither.
    ``expect_version`` makes the swap a CAS (see :func:`commit`): a
    read-modify-overwrite fold (e.g. the streaming bloom state's bitmap
    OR) anchored on the version it read can never silently drop a racing
    writer's update."""
    old = current_snapshot(table).files
    parts, stats, schema = _write_parts(df, table)
    return commit(table, add=parts, remove=old, operation="overwrite",
                  stats=stats, meta=meta, expect_version=expect_version,
                  schema=schema)


def _zorder_column(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-value expression: min-max scale each (numeric) cluster column to a
    ``bits``-bit integer, then interleave the bits so that files sorted by
    the result are locality-clustered in EVERY clustered dimension at
    once.  Stats come from one driver-side aggregate over the snapshot —
    compaction is a maintenance command, the action is intended.
    (Float scaling is fine HERE because only the ordering matters; the
    oracle-exact integer twin with measured pruning reports lives in
    ``operators/zorder.py`` — the analysis side of the same idea.)"""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    stats = df.agg(*aggs).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
        if mx == mn:  # constant column: contributes nothing to ordering
            scaled.append(F.lit(0).cast("long"))
        else:
            scaled.append(
                F.least(
                    F.lit(top),
                    ((F.col(c) - mn) / (mx - mn) * top).cast("long"),
                )
            )
    z = F.lit(0).cast("long")
    n = len(scaled)
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + (n - 1 - j)))
    return z


def compact(
    spark: SparkSession,
    table: str,
    target_parts: int = 1,
    cluster_by: list[str] | None = None,
    max_retries: int = 5,
) -> int:
    """OPTIMIZE: rewrite the current live set into ``target_parts`` larger
    parts in one atomic commit — the small-file answer for a table fed by
    many incremental appends (a year of day-commits = hundreds of tiny
    parts whose per-file open/footer cost dominates a 100 TB scan).

    Data-preserving by construction (pure rewrite of the snapshot it
    read), and time travel to pre-compaction versions keeps working
    because old parts are only de-referenced, not deleted (``vacuum``
    reclaims them).  Concurrency: the commit is attempted ONLY at
    ``base_version + 1`` — if any writer lands first, the staged rewrite
    is abandoned and the whole compact retries against the new snapshot,
    so a concurrent append can never be silently dropped by the
    compaction's remove-set.

    ``cluster_by`` additionally Z-ORDERS the rewrite (numeric columns):
    rows are range-partitioned and sorted by an interleaved-bit z-value,
    so each output file covers a narrow min/max range in EVERY clustered
    column and parquet row-group stats prune multi-dimensional predicates
    — the data-skipping layout a 100 TB scan lives or dies by.
    """
    for _ in range(max_retries):
        base = current_snapshot(table)
        if not base.files:
            raise ValueError(f"nothing to compact in {table}")
        df = read_snapshot(spark, table, base.version)
        if cluster_by:
            z = _zorder_column(df, cluster_by)
            clustered = (
                df.withColumn("__z", z)
                .repartitionByRange(target_parts, "__z")
                .sortWithinPartitions("__z")
                .withColumn("__pid", F.spark_partition_id())
                .localCheckpoint(eager=False)
            )  # materialized once; each range is then written from cache
            # one PART per range partition, not one part for the whole
            # rewrite: log-level pruning (read_snapshot's prune=) skips
            # at PART granularity, so collapsing every range into a
            # single part would merge their stats and make clustered
            # layouts unprunable at the commit-log level — the parquet
            # row-group stats inside a part only help predicates Spark
            # pushes to the scan, which join keys are not
            parts, stats, schema = _write_clustered_parts(
                clustered, table, _stat_cols(df.schema)
            )
        else:
            parts, stats, schema = _write_parts(
                df.coalesce(target_parts), table
            )
        entry = {
            "version": base.version + 1,
            "operation": "compact",
            "add": parts,
            "remove": base.files,
            "schema": schema,
            "stats": stats,
        }
        if _try_commit(table, base.version + 1, entry):
            return base.version + 1
    raise RuntimeError(f"compact contention on {table} after {max_retries} tries")


def vacuum(table: str, keep_versions: int = 2) -> list[str]:
    """Physically delete data parts no longer referenced by the last
    ``keep_versions`` snapshots.  Time travel older than the horizon stops
    working (exactly Delta/Iceberg VACUUM semantics); parts never
    mentioned in the log are left alone — they may be another writer's
    in-flight staging.  Returns the deleted part names.

    Also reaps stale ``.tmp-*`` commit files from the log dir: a
    committer that crashed between the temp write and the ``os.link``
    publish leaks one, and they would otherwise accumulate forever.  A
    LIVE committer's temp file exists only for the microseconds between
    write and link; the 10-minute age floor sits far above any plausible
    GC pause or NFS stall, and a committer that IS stalled past it loses
    only its temp file — ``_try_commit`` maps the resulting
    ``os.link`` FileNotFoundError to a retryable miss, never a torn
    commit."""
    import shutil
    import time as _time

    log_dir = os.path.join(table, _LOG_DIR)
    if os.path.isdir(log_dir):
        cutoff = _time.time() - 600
        for f in os.listdir(log_dir):
            if f.startswith(".tmp-"):
                p = os.path.join(log_dir, f)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.unlink(p)
                except OSError:
                    pass  # racing reaper/committer — someone handled it

    versions = _list_versions(table)
    if not versions:
        return []
    kept = versions[-keep_versions:]
    keep_refs: set[str] = set()
    for v in kept:
        keep_refs.update(current_snapshot(table, v).files)
    ever_refs: set[str] = set()
    for v in versions:
        ever_refs.update(current_snapshot(table, v).files)
    doomed = sorted(ever_refs - keep_refs)
    for part in doomed:
        shutil.rmtree(os.path.join(table, _DATA_DIR, part),
                      ignore_errors=True)
        if "/" in part:
            # a clustered-compact range part ("part-x/__pid=3"):
            # reap the parent staging dir once its last child goes
            parent = os.path.join(
                table, _DATA_DIR, part.rsplit("/", 1)[0]
            )
            try:
                os.rmdir(parent)
            except OSError:
                pass  # still has live siblings (or already gone)
    return doomed


#: sentinel opting a rewrite commit OUT of its CAS anchor — the unsafe
#: stale-retry behavior, acceptable only under a strict single-writer
#: discipline (see :func:`upsert`)
UNANCHORED = object()


def upsert(
    spark: SparkSession,
    incoming: DataFrame,
    table: str,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    txn_id: str | None = None,
    expect_version: int | None | object = None,
    meta: dict | None = None,
) -> int:
    """Copy-on-write MERGE (S8 semantics via operators/merge.upsert_by_key),
    NARROWED (round 13, no longer aspirational): only the files whose
    logged key ranges intersect the incoming batch on every key column
    are read, merged and rewritten (:func:`files_overlapping_all_keys`);
    every other file carries into the new snapshot by reference, so a
    constant-size batch merges in constant work regardless of table
    size.  A pure-insert batch (no file overlaps) removes nothing and
    appends one part.

    Concurrency: ALWAYS CAS-anchored by default (round-14 ADVICE, the
    same discipline :func:`apply_changes` adopted in round 13): when
    ``expect_version`` is not given, the commit anchors on the snapshot
    version this merge read, so a racing compact/overlapping-upsert
    surfaces as :class:`CommitConflictError` to be retried from a fresh
    read — a REWRITE commit that silently retried at the next version
    with a stale remove-set would duplicate rows.  Pass the module
    sentinel ``UNANCHORED`` to opt INTO the old stale-retry behavior
    (safe only for a strict single-writer, where it saves the conflict
    retry on racing pure appends).

    ``txn_id`` makes a re-run idempotent exactly as in :func:`append`:
    if this id is already in the log, nothing is staged or committed and
    -1 is returned (the exactly-once hook incremental consumers need —
    a crash between commit and the caller persisting its offset must not
    re-apply a non-idempotent merge like a count accumulation)."""
    from airflow_crypto_btc_spark.operators.merge import upsert_by_key

    if txn_id and txn_id in current_snapshot(table).txn_ids:
        return -1
    snap = current_snapshot(table)
    if expect_version is None:
        expect_version = snap.version
    elif expect_version is UNANCHORED:
        expect_version = None
    # narrow the MERGE rewrite to the files whose logged key ranges can
    # contain an incoming key (round 13 — previously every fold rewrote
    # the whole state table): a matching existing row in a carried file
    # would have to overlap the incoming keys on EVERY key column,
    # which the per-column intersection just excluded, so carried
    # files need no merge and move zero bytes.  Un-range-testable
    # dtypes fall back to "touched" per column — conservative, never
    # incorrect.
    touched, carried = files_overlapping_all_keys(
        spark, snap, incoming, list(key_cols)
    )
    # a pure-insert batch (no file overlaps any incoming key) reads
    # zero parts: an empty frame under the snapshot schema
    existing = read_parts(spark, table, touched, snap)
    merged = upsert_by_key(existing, incoming, key_cols, update_cols)
    parts, stats, schema = _write_parts(merged, table)
    return commit(table, add=parts, remove=touched, operation="upsert",
                  txn_id=txn_id, stats=stats,
                  expect_version=expect_version, meta=meta, schema=schema)


def cdc_tombstones_table(table: str) -> str:
    """Path of a CDC table's delete-tombstone companion table — a
    nested snapshot table (own log, own data dir) holding ``(key…,
    __seq)`` for every key whose LATEST applied change was a delete.
    Without it, a late out-of-order insert would resurrect a key a
    newer sequence already deleted (the data row — and the ``__seq``
    watermark riding it — is gone).  Lives INSIDE the parent table dir
    so it travels with the table; the parent's vacuum/compact never
    see it (they operate on the parent's logged parts only)."""
    return os.path.join(table, "_cdc_tombstones")


def _fold_cdc_tombstones(
    spark: SparkSession,
    tomb: str,
    dels: DataFrame,
    up_keys: DataFrame,
    keys: list[str],
    txn_id: str | None,
) -> None:
    """Fold one batch's effective deletes/upserts into the tombstone
    table: deleted keys upsert their sequence (``greatest`` of old and
    new — a crash-window replay may present an older effective
    delete), resurrected keys leave.  Narrowed, txn-idempotent, and
    CAS-anchored exactly like the data fold.  MUST commit BEFORE the
    data commit: if a crash lands between the two, the replayed batch
    re-derives the same effective set from the still-unchanged data
    watermarks and txn-skips here — whereas data-first would leave no
    way to recover which deletes still owed their tombstones."""
    snap = current_snapshot(tomb)
    if txn_id and txn_id in snap.txn_ids:
        return  # crash-window replay: tombstones already folded
    new_dels = dels.groupBy(*keys).agg(F.max("__seq").alias("__seq"))
    if not snap.files:
        if dels.limit(1).count() == 0:
            return  # no tombstone table and nothing to tombstone
        parts, stats, schema = _write_parts(new_dels, tomb)
        commit(tomb, add=parts, remove=[], operation="cdc_tombstones",
               txn_id=txn_id, stats=stats, expect_version=snap.version,
               schema=schema)
        return
    probe = dels.select(*keys).unionByName(up_keys)
    touched, _ = files_overlapping_all_keys(spark, snap, probe, keys)
    if not touched and dels.limit(1).count() == 0:
        return  # no tombstone overlaps this batch at all
    if touched:
        exist = read_parts(spark, tomb, touched, snap)
        survivors = exist.join(F.broadcast(up_keys), keys, "left_anti")
        merged = (
            survivors.select(*keys, "__seq")
            .unionByName(new_dels)
            .groupBy(*keys)
            .agg(F.max("__seq").alias("__seq"))
        )
    else:
        merged = new_dels
    n = merged.count()
    parts, stats, schema = (
        _write_parts(merged, tomb) if n else ([], {}, None)
    )
    commit(tomb, add=parts, remove=touched, operation="cdc_tombstones",
           txn_id=txn_id, stats=stats, expect_version=snap.version,
           schema=schema)


def expire_cdc_tombstones(
    spark: SparkSession,
    table: str,
    below_seq,
    txn_id: str | None = None,
) -> int:
    """Retention for the CDC delete-tombstone companion: truncate
    tombstones whose ``__seq`` is strictly below the consumer's
    out-of-orderness HORIZON (Debezium's low watermark).  Once the
    source guarantees no change at-or-below ``below_seq`` can still
    arrive, those tombstones can never gate anything again — without
    expiry the companion grows O(all keys ever deleted) forever.

    File-narrowed via the logged ``__seq`` stats, so steady-state
    expiry is METADATA-ONLY: a file whose max __seq < horizon
    de-references whole (zero bytes move), a file entirely at-or-above
    carries, and only straddling files rewrite their survivors.
    CAS-anchored and txn-idempotent like every rewrite.  Returns the
    number of tombstones expired (0 for a replay or a missing table).

    SAFETY: expiring below a horizon the source has NOT sealed
    re-opens the resurrection window :func:`apply_changes` closed — a
    sub-horizon insert for an expired key would land.  The horizon is
    the caller's contract with its source, exactly as in DLT/Debezium."""
    tomb = cdc_tombstones_table(table)
    snap = current_snapshot(tomb)
    if txn_id and txn_id in snap.txn_ids:
        return 0
    if not snap.files:
        return 0
    drop, carry, straddle = [], [], []
    for f in snap.files:
        rng = (snap.stats.get(f) or {}).get("__seq")
        if not rng:
            straddle.append(f)  # no stats: must inspect rows
            continue
        if rng[1] < below_seq:
            # whole-file drop needs the exact count: legacy parts
            # without __nrows stats fall through to the row-inspecting
            # path so the return value stays exact
            if (snap.stats.get(f) or {}).get("__nrows") is None:
                straddle.append(f)
            else:
                drop.append(f)
        elif rng[0] >= below_seq:
            carry.append(f)
        else:
            straddle.append(f)
    if not drop and not straddle:
        return 0
    expired = sum(
        int(snap.stats[f]["__nrows"]) for f in drop
    )
    add: list[str] = []
    stats: dict = {}
    schema = None
    if straddle:
        rows = read_parts(spark, tomb, straddle, snap)
        survivors = rows.filter(F.col("__seq") >= F.lit(below_seq))
        n_before = rows.count()
        n_after = survivors.count()
        expired += n_before - n_after
        if n_after or not carry:
            add, stats, schema = _write_parts(survivors, tomb)
    commit(
        tomb,
        add=add,
        remove=drop + straddle,
        operation="expire_tombstones",
        txn_id=txn_id,
        stats=stats,
        expect_version=snap.version,
        schema=schema,
    )
    return expired


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    table: str,
    key_cols: list[str],
    sequence_col: str,
    txn_id: str | None = None,
    expect_version: int | None = None,
    change_col: str = "_change_type",
) -> int:
    """APPLY CHANGES INTO — fold one CDC changelog batch (rows tagged
    ``_change_type`` ∈ insert/update/delete, ordered by
    ``sequence_col``) into a keyed snapshot table exactly-once, the
    Delta Live Tables / Debezium-consumer verb:

    - per key, the batch's LATEST change by ``sequence_col`` wins
      (DETERMINISM CONTRACT: (key, sequence) pairs are unique — ties
      would make the fold order-dependent, so they raise);
    - ``sequence_col`` is a GLOBAL ordering (round 14): every applied
      row carries its sequence as a ``__seq`` column, deleted keys
      park theirs in the :func:`cdc_tombstones_table` companion, and
      an incoming change applies only when its sequence is STRICTLY
      ABOVE the key's stored high-watermark — so a late-arriving batch
      whose sequences are older than already-applied state folds to a
      no-op instead of clobbering newer rows, and a late insert cannot
      resurrect a key a newer sequence deleted (DLT ``APPLY CHANGES …
      SEQUENCE BY`` out-of-order semantics).  Batches may arrive in
      ANY order and converge to the global-max-per-key end state;
      rows that predate CDC (null ``__seq``) accept any sequence.
      The watermark commits ATOMICALLY with the data it describes
      (it rides the data rows), so no crash can separate them; the
      delete tombstones commit FIRST and replay idempotently (see
      :func:`_fold_cdc_tombstones` for the crash-window argument).
    - latest delete → the key leaves the table; latest insert/update →
      upsert of that row's values (new keys insert; inserts and
      updates are deliberately interchangeable, as in DLT);
    - the rewrite NARROWS to the files whose key ranges overlap the
      batch (:func:`files_overlapping_all_keys`) — constant-size CDC
      batches fold in constant work regardless of table size, and the
      rewrite set is re-narrowed to the watermark-SURVIVING keys, so
      a fully-stale batch moves zero bytes;
    - exactly-once via ``txn_id`` (a replayed batch is a no-op), and
      ALWAYS CAS-anchored: when ``expect_version`` is not given, the
      commit anchors on the snapshot version this fold read — a
      rewrite commit that silently retried at the next version with a
      stale remove-set would duplicate rows against a racing compact
      (racing appends are the one case stale-retry handles correctly,
      and the anchor surfaces them as :class:`CommitConflictError` to
      be retried from a fresh read instead).

    Returns the committed version (or -1 for an idempotent skip)."""
    from pyspark.sql.window import Window

    from airflow_crypto_btc_spark.operators.merge import upsert_by_key

    if txn_id and txn_id in current_snapshot(table).txn_ids:
        return -1
    snap = current_snapshot(table)
    if not snap.files:
        raise ValueError(
            f"apply_changes needs an existing snapshot at {table}; "
            "bootstrap the table with append() first"
        )
    keys = list(key_cols)
    if "__seq" in changes.columns and sequence_col != "__seq":
        raise ValueError(
            "apply_changes: __seq is the reserved high-watermark "
            "column; rename it in the changelog"
        )
    w = Window.partitionBy(*keys).orderBy(F.col(sequence_col).desc())
    ranked = changes.withColumn("__rn", F.row_number().over(w))
    # the determinism contract: a (key, sequence) tie makes "latest"
    # order-dependent — fail loudly instead of folding arbitrarily
    dup = (
        changes.groupBy(*keys, sequence_col)
        .count()
        .filter("count > 1")
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "apply_changes: duplicate (key, sequence) in the batch — "
            "latest-wins would be nondeterministic"
        )
    latest = ranked.filter("__rn = 1").drop("__rn")
    latest = latest.localCheckpoint(eager=False)
    batch_keys = latest.select(*keys)

    # ---- phase A: the stored high-watermark per incoming key ----
    # data watermark = __seq of the key's current row (column-pruned
    # scan of the stat-overlapping files only); tombstone watermark =
    # the companion table's __seq for keys whose latest change was a
    # delete.  A key PRESENT in the data wins over any (stale,
    # crash-window) tombstone.
    wm_touched, wm_carried = files_overlapping_all_keys(
        spark, snap, batch_keys, keys
    )
    wm_src = read_parts(spark, table, wm_touched, snap)
    # the table's __seq dtype (pinned by the first CDC fold) governs;
    # mixed-width sequence dtypes across batches would otherwise break
    # the parquet schema merge
    seq_type = dict(wm_src.dtypes).get(
        "__seq", dict(changes.dtypes)[sequence_col]
    )
    if "__seq" not in wm_src.columns:
        wm_src = wm_src.withColumn("__seq", F.lit(None).cast(seq_type))
    data_wm = (
        wm_src.select(*keys, F.col("__seq").alias("__wm_data"))
        .join(F.broadcast(batch_keys), keys, "left_semi")
        .withColumn("__row_present", F.lit(True))
    )
    tomb = cdc_tombstones_table(table)
    tomb_snap = current_snapshot(tomb)
    tomb_wm = None
    if tomb_snap.files:
        t_touched, _ = files_overlapping_all_keys(
            spark, tomb_snap, batch_keys, keys
        )
        if t_touched:
            tomb_wm = (
                read_parts(spark, tomb, t_touched, tomb_snap)
                .select(*keys, F.col("__seq").alias("__wm_tomb"))
                .join(F.broadcast(batch_keys), keys, "left_semi")
            )
    gated = latest.join(F.broadcast(data_wm), keys, "left")
    if tomb_wm is not None:
        gated = gated.join(F.broadcast(tomb_wm), keys, "left")
    else:
        gated = gated.withColumn(
            "__wm_tomb", F.lit(None).cast(seq_type)
        )
    wm = F.when(
        F.col("__row_present"), F.col("__wm_data")
    ).otherwise(F.col("__wm_tomb"))
    # ONE binding for the keep-predicate: eff and the stale_any probe
    # below must negate each other exactly, or phase B reuses a
    # narrowing computed for the wrong key set
    keep = wm.isNull() | (F.col(sequence_col) > wm)
    eff = gated.filter(keep).drop(
        "__wm_data", "__wm_tomb", "__row_present"
    )
    eff = eff.localCheckpoint(eager=False)
    if eff.limit(1).count() == 0:
        # fully-stale batch: move zero bytes, but still record the txn
        # so the consumer's exactly-once ack holds on replay
        return commit(
            table, add=[], remove=[], operation="apply_changes",
            txn_id=txn_id,
            expect_version=(
                snap.version if expect_version is None
                else expect_version
            ),
        )
    # did the watermark gate anything?  One limit(1) probe on the
    # bounded gated frame; decides whether phase B may reuse phase A's
    # file narrowing (eff keys == batch keys when nothing was gated).
    # Runs AFTER the fully-stale early return — that path never reads
    # the answer and must not pay the probe job.
    stale_any = gated.filter(~keep).limit(1).count() > 0

    ups = (
        eff.filter(F.col(change_col) != F.lit("delete"))
        .drop(change_col)
        .withColumn("__seq", F.col(sequence_col).cast(seq_type))
    )
    if sequence_col != "__seq":
        # when the changelog's sequence column IS "__seq" (re-applying
        # rows read from a CDC-maintained table), the withColumn above
        # already replaced it in place — dropping it would strip the
        # watermark from every upserted row and stale-gate later
        # batches against the PREVIOUS row's sequence (round-14
        # self-review)
        ups = ups.drop(sequence_col)
    dels = eff.filter(F.col(change_col) == F.lit("delete")).select(
        *keys, F.col(sequence_col).cast(seq_type).alias("__seq")
    )

    # tombstones FIRST (see _fold_cdc_tombstones for why this order)
    _fold_cdc_tombstones(
        spark, tomb, dels, ups.select(*keys), keys, txn_id
    )

    # ---- phase B: the narrowed rewrite, re-narrowed to the keys that
    # actually survived the watermark ----
    if stale_any:
        touched, carried = files_overlapping_all_keys(
            spark, snap, eff.select(*keys), keys
        )
    else:
        # nothing was gated: eff's keys are exactly the batch keys
        # phase A already probed — reuse that narrowing instead of
        # paying the per-key-column range probe twice on the hot path
        # (round-14 self-review; stale batches are the rare case)
        touched, carried = wm_touched, wm_carried
    existing = read_parts(spark, table, touched, snap)
    if "__seq" not in existing.columns:
        existing = existing.withColumn(
            "__seq", F.lit(None).cast(seq_type)
        )
    survivors = existing.join(
        F.broadcast(dels.select(*keys)), keys, "left_anti"
    )
    merged = upsert_by_key(survivors, ups, keys)
    # a batch that deletes every row of the touched files (and inserts
    # nothing) must keep a schema tombstone if no file would remain
    n_merged = merged.count()
    parts, stats, schema = (
        _write_parts(merged, table)
        if n_merged or not carried
        else ([], {}, None)
    )
    return commit(
        table,
        add=parts,
        remove=touched,
        operation="apply_changes",
        txn_id=txn_id,
        stats=stats,
        schema=schema,
        expect_version=(
            snap.version if expect_version is None else expect_version
        ),
    )


def snapshot_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Change-feed read between two versions (Delta's ``table_changes``
    shape, derived purely from the commit log):

    - For a span of append-only commits, the changes are exactly the rows
      in the files ADDED in ``(from_version, to_version]`` — zero compute,
      no old-snapshot scan, the incremental-consumer fast path.
    - If the span contains a rewrite commit (overwrite/upsert/compact),
      file identity no longer maps to row identity; the diff falls back to
      two snapshot reads + a full-row null-safe anti-join per direction,
      so value-only updates surface as delete+insert of the same key.

    The fallback diff is MULTISET-exact: each side is reduced to
    per-row-identity counts and rows are re-emitted |count delta| times,
    so a rewrite that only changes the multiplicity of duplicate rows
    (removes one of two equal rows) emits exactly the lost/gained
    occurrences.  ``key_cols`` does not join — it gates the fallback: a
    rewrite-span diff costs two snapshot scans plus row-identity
    shuffles, and without the parameter the call raises instead of
    silently running the expensive path.

    Returns rows tagged with a ``_change_type`` column (``insert`` /
    ``delete``); updates surface as delete+insert of the same key."""
    snap_to = current_snapshot(table, to_version)
    versions = [
        v for v in _list_versions(table)
        if from_version < v <= snap_to.version
    ]
    ops = []
    added: list[str] = []
    for v in versions:
        with open(_log_path(table, v)) as fh:
            entry = json.load(fh)
        ops.append(entry.get("operation"))
        added.extend(entry.get("add", []))
    rewriting = any(op not in ("append", None) for op in ops)
    if not rewriting:
        # the added parts under the target version's schema: evolved
        # columns surface, and a span with no live additions is empty
        live = set(snap_to.files)
        return read_parts(
            spark, table, [f for f in added if f in live], snap_to
        ).withColumn("_change_type", F.lit("insert"))
    if not key_cols:
        raise ValueError(
            "span contains a rewrite commit; key_cols required for a "
            "row-level diff"
        )
    new = read_snapshot(spark, table, snap_to.version)
    # a from_version before the first commit (or one whose snapshot holds
    # no files) reads zero parts: the old side is EMPTY, not an error, so
    # the full-history feed of a rewrite span is every current row as an
    # insert
    snap_from = current_snapshot(table, from_version)
    old = read_parts(spark, table, snap_from.files, snap_from)
    # Multiset diff via per-row-identity counts: group each side by the
    # FULL row (map-side combined — one shuffle of distinct rows per
    # side), full-outer join the count tables null-safely, and re-emit
    # each row |count delta| times tagged insert/delete.  A value-only
    # update's two row versions land in different groups, so it surfaces
    # as delete+insert of the same key, as the docstring promises; a
    # multiplicity-only change surfaces as exactly the lost or gained
    # occurrences.  Cheaper than occurrence-indexing with a window (which
    # would sort every row): counts shrink each side to its distinct rows
    # before any join.
    # align schemas across the span: a column added by schema evolution
    # is null for every pre-evolution row, so old rows diff as if they
    # always carried the null
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(
                c, F.lit(None).cast(new.schema[c].dataType)
            )
    for c in old.columns:
        if c not in new.columns:
            new = new.withColumn(
                c, F.lit(None).cast(old.schema[c].dataType)
            )
    cols = new.columns
    oc = old.groupBy(*cols).agg(F.count("*").alias("_n_old"))
    nc = new.groupBy(*cols).agg(F.count("*").alias("_n_new"))
    joined = nc.join(
        oc, on=_all_cols_eq(nc, oc, cols), how="full_outer"
    ).select(
        *[F.coalesce(nc[c], oc[c]).alias(c) for c in cols],
        (
            F.coalesce(nc["_n_new"], F.lit(0))
            - F.coalesce(oc["_n_old"], F.lit(0))
        ).alias("_delta"),
    )
    inserted = (
        joined.filter(F.col("_delta") > 0)
        .withColumn("_i", F.explode(F.expr("sequence(1, _delta)")))
        .drop("_i", "_delta")
        .withColumn("_change_type", F.lit("insert"))
    )
    deleted = (
        joined.filter(F.col("_delta") < 0)
        .withColumn("_i", F.explode(F.expr("sequence(1, -_delta)")))
        .drop("_i", "_delta")
        .withColumn("_change_type", F.lit("delete"))
    )
    return inserted.unionByName(deleted)


def _all_cols_eq(left: DataFrame, right: DataFrame, cols: list[str]):
    """AND of null-safe equality over every column — the row-identity
    join condition for snapshot diffs."""
    cond = left[cols[0]].eqNullSafe(right[cols[0]])
    for c in cols[1:]:
        cond = cond & left[c].eqNullSafe(right[c])
    return cond
