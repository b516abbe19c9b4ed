"""Delta-Lake transaction log: commits, replay, and the table verbs.

The reference stores its lakehouse in Delta (preprocess.py:169-175
`write_deltalake`, :181-186 add-action stats scan, :199-206
OPTIMIZE/VACUUM). This environment has no delta-spark, so this module
is a from-scratch implementation of the published Delta
transaction-log protocol (delta-io/delta PROTOCOL.md), and it is the
ONE write path for mutating an existing table: MERGE (with a
``deletes`` key frame for CDC tombstones), DELETE, OPTIMIZE, Z-order,
PURGE, VACUUM, RESTORE, and the SCD2 and CDC applies built on MERGE
all commit here. io/sink.py keeps only the plain Parquet writers.

Scope:

* ``_delta_log/<20-digit version>.json`` commits of ``protocol`` /
  ``metaData`` / ``add`` / ``remove`` / ``txn`` / ``commitInfo``
  actions (NDJSON, one action per line), replayed at the latest or any
  historical version (time travel, :func:`history`, RESTORE), with the
  scan schema taken from the LOG's metaData, not file-order luck;
* append and overwrite commits, schema-enforced by field names and
  types (nullability-insensitive: Spark file sources force read
  schemas nullable), ADDITIVE schema evolution (``merge_schema``), and
  ``txn`` idempotency for exactly-once streaming sinks;
* hive-partitioned tables (the reference's ``partition_by="date"``)
  pruned FROM THE LOG, and min/max data skipping on add-action stats,
  which also answer the high-water-mark scan without opening a file;
* merge-on-read deletion vectors (:func:`delete_delta_dv`,
  :func:`merge_delta_dv`, read through by every scan and purged by
  :func:`materialize_deletes`), column mapping mode ``name`` with
  metadata-only :func:`rename_column`/:func:`drop_column`, CHECK
  constraints, generated columns, ``delta.appendOnly``, and shallow
  clones;
* parquet checkpoints: replay starts from the newest checkpoint at or
  below the target and applies only the JSON tail, and
  :func:`cleanup_log` may drop the prefix; time travel into a cleaned
  prefix raises.

Out of scope: checkpoint tombstones (``remove`` actions are not
carried into checkpoints; files removed before a cleaned checkpoint are
reaped by :func:`vacuum_delta` after retention, real Delta's end state
too), ``txn`` actions in checkpoints, type changes (``overwriteSchema``), column mapping on
partitioned tables, and the full change-data feed.

Each job is done in one place: :func:`_actions` parses a version file,
:func:`_commit_op` is the commit step (``commitInfo``, the atomic
publish, removal of staged files on failure), :func:`_move_staged`
publishes a rewrite staged one file per key, and :func:`_scan` is the
deletion-vector-aware scan.

Crash/concurrency story: a commit is staged as a hidden temp file,
fsync'd, then atomically CLAIMED via ``os.link`` to the version name —
the version file is never visible in a torn state, exactly one writer
wins a version (losers raise FileExistsError), and a loser's staged
data files are removed before the error propagates (no orphan leak).
Every verb that reads the snapshot claims its version BEFORE planning,
so a concurrent commit turns into an explicit conflict instead of a
commit built on a stale snapshot. :func:`vacuum_delta` reaps any data
file the log does not reference (crashed pre-commit stagings).
:func:`_replay` refuses non-contiguous logs (a missing version file
means lost commits — an error, never a silently wrong snapshot).
Interop with delta-spark cannot be tested in this env; the protocol
shape follows the public spec, and the round-trip is pinned by tests
and driver-hashed registry queries (``lake_delta_log_scan``,
``lake_delta_partitioned``, ``lake_delta_checkpoint``).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import functools
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


_LOG_DIR = "_delta_log"


def _log_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR)


def _version_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:020d}.json")


def _list_versions(table: str) -> list[int]:
    log = _log_path(table)
    if not os.path.isdir(log):
        return []
    out = []
    for name in os.listdir(log):
        if name.endswith(".json") and len(name) == 25:
            try:
                out.append(int(name[:-5]))
            except ValueError:
                continue
    return sorted(out)


def _actions(table: str, version: int) -> list[dict]:
    """The actions of one version file, in file order — THE one place a
    version file is opened and parsed."""
    with open(_version_file(table, version)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _json_safe(v):
    """Stats values → JSON-storable form (Delta stores timestamps/dates
    as ISO strings). Returns ``_OMIT`` for types stats can't carry."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:  # normalize to naive UTC, like the engine
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return _OMIT


_OMIT = object()


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_BASE_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


def _decode_hive_dir(segment: str) -> tuple[str, str | None]:
    """``col=value`` hive path segment → (col, decoded value).

    Spark percent-escapes special characters in partition dir names and
    spells null as ``__HIVE_DEFAULT_PARTITION__``; the add action's
    partitionValues stores the DECODED string (JSON null for null), per
    the Delta spec."""
    from urllib.parse import unquote

    col, _, raw = segment.partition("=")
    return unquote(col), (None if raw == _HIVE_NULL else unquote(raw))


def _stage_files(
    df: DataFrame,
    table: str,
    stats_cols: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
) -> list[dict]:
    """Write df's parquet files under the table dir and return their add
    actions (path relative to the table root, size, partitionValues,
    stats). Partitioned stages keep Spark's hive layout
    (``col=value/.../part-*.parquet``) so the table directory looks
    exactly like real Delta's; partition columns are NOT duplicated
    inside the data files (Spark's partitionBy drops them — same as
    Delta), readers re-derive them from the log/paths."""
    import glob

    import pyarrow.parquet as pq

    adds: list[dict] = []
    with _stage_dir(table) as stage:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(stage)
        try:
            pattern = os.path.join(stage, *(["*"] * len(partition_by)), "part-*.parquet")
            for f in sorted(glob.glob(pattern)):
                md = pq.ParquetFile(f).metadata  # one footer read per file
                if md.num_rows == 0:
                    continue  # empty partitions produce 0-row files: nothing to commit
                rel_dirs = os.path.relpath(os.path.dirname(f), stage)
                segments = [] if rel_dirs == "." else rel_dirs.split(os.sep)
                rel = os.path.join(*segments, f"part-{uuid.uuid4().hex}.parquet")
                os.makedirs(os.path.dirname(os.path.join(table, rel)), exist_ok=True)
                os.replace(f, os.path.join(table, rel))
                pvals = dict(_decode_hive_dir(s) for s in segments)
                adds.append(_add_action(table, rel, md, pvals, stats_cols, True))
        except Exception:
            _remove_staged(table, adds)
            raise
    return adds


@contextlib.contextmanager
def _stage_dir(table: str):
    """A hidden ``.stage-*`` dir under the table root for one Spark
    write; removed on exit (files moved out of it are not)."""
    stage = os.path.join(table, f".stage-{uuid.uuid4().hex}")
    try:
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _move_staged(
    table: str, stage: str, col: str, like: dict, prefix: str = "part"
) -> dict:
    """Publish a rewrite staged by ``df.write.partitionBy(col)``: for each
    key of ``like`` its ``col=<key>`` dir must hold exactly one file
    (the hash-group contract of ``repartition(n, col)``), which moves
    under the table root into the directory of ``like[key]`` — a path
    the rewrite replaces, so a partition's rewrite stays in its hive
    dir. Returns ``{key: (relative path, footer metadata)}``; a key
    whose rewrite kept no rows wrote no dir and is absent. On failure
    the files already moved are removed before the error propagates."""
    import glob

    import pyarrow.parquet as pq

    moved: dict = {}
    try:
        for key, path in like.items():
            parts = glob.glob(os.path.join(stage, f"{col}={key}", "part-*.parquet"))
            if len(parts) > 1:  # pragma: no cover - hash-group contract
                raise RuntimeError(f"rewrite of {col}={key} staged {len(parts)} files")
            if not parts:
                continue
            # a shallow clone's input has an ABSOLUTE source path: its
            # rewrite lands under THIS table's root (the clone's
            # copy-on-write), never back in the source dir
            rel_dir = "" if os.path.isabs(path) else os.path.dirname(path)
            name = f"{prefix}-{uuid.uuid4().hex}.parquet"
            rel = f"{rel_dir}/{name}" if rel_dir else name
            md = pq.ParquetFile(parts[0]).metadata
            os.replace(parts[0], os.path.join(table, rel))
            moved[key] = (rel, md)
    except Exception:
        _remove_staged(table, [{"path": rel} for rel, _ in moved.values()])
        raise
    return moved


def _remove_staged(table: str, adds) -> None:
    for a in adds:
        try:
            os.remove(os.path.join(table, a["path"]))
        except OSError:
            pass


def _add_action(
    table: str, rel: str, md, pvals: dict, stats_cols, data_change: bool
) -> dict:
    """The add action of a file just placed at ``rel`` under the table."""
    return {
        "path": rel.replace(os.sep, "/"),
        "partitionValues": pvals,
        "size": os.path.getsize(os.path.join(table, rel)),
        "modificationTime": 0,
        "dataChange": data_change,
        "stats": json.dumps(_file_stats(md, tuple(stats_cols))),
    }


def _remove_action(path: str, data_change: bool) -> dict:
    return {"remove": {"path": path, "deletionTimestamp": 0, "dataChange": data_change}}


def _file_stats(md, cols: tuple[str, ...]) -> dict:
    """numRecords + min/max per requested column from the parquet footer
    metadata (no data read), serialized the way Delta stores them (JSON
    string on the add action). A column with incomplete or
    non-JSON-able stats is OMITTED (never guessed); other columns keep
    theirs. Stats are metadata — they must never fail a commit, so any
    unexpected footer shape degrades to numRecords-only."""
    stats: dict = {"numRecords": md.num_rows, "minValues": {}, "maxValues": {}}
    try:
        if not cols:
            return stats
        name_to_idx = {md.schema.column(i).name: i for i in range(len(md.schema))}
        for c in cols:
            i = name_to_idx.get(c)
            if i is None:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(i).statistics
                if s is None or not s.has_min_max:
                    mins = []
                    break
                mins.append(s.min)
                maxs.append(s.max)
            if not mins:
                continue  # omit THIS column only
            lo, hi = _json_safe(min(mins)), _json_safe(max(maxs))
            if lo is _OMIT or hi is _OMIT:
                continue
            stats["minValues"][c] = lo
            stats["maxValues"][c] = hi
        return stats
    except Exception:  # pragma: no cover - stats never abort a commit
        # unexpected footer shape: degrade to numRecords-only, as promised
        return {"numRecords": md.num_rows, "minValues": {}, "maxValues": {}}


def _commit(table: str, version: int, actions: list[dict]) -> None:
    """Atomically publish the next version file: stage a hidden temp
    file with the FULL payload, fsync, then CLAIM the version name via
    ``os.link`` — readers can never observe a torn or empty version
    file, and exactly one of two racing writers wins (the loser's link
    raises FileExistsError — the real protocol's optimistic-concurrency
    guarantee on filesystems with atomic link/create)."""
    os.makedirs(_log_path(table), exist_ok=True)
    payload = ("\n".join(json.dumps(a) for a in actions) + "\n").encode()
    tmp = os.path.join(_log_path(table), f".tmp-{uuid.uuid4().hex}.json")
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        written = os.write(fd, payload)
        if written != len(payload):  # pragma: no cover - short write (ENOSPC)
            raise OSError(f"short write committing version {version}")
        os.fsync(fd)
    finally:
        os.close(fd)
    try:
        os.link(tmp, _version_file(table, version))
    except Exception:
        try:
            os.remove(tmp)
        except OSError:  # pragma: no cover
            pass  # vacuum_delta reaps leaked .tmp files
        raise
    # PUBLISHED. Nothing after this point may look like a failed commit:
    # the version file exists and its data files must stay. Make the new
    # directory entry durable (a power loss before the dirent flushes
    # would silently lose an acknowledged latest version), then drop the
    # temp name — both best-effort, both irrelevant to correctness of
    # the already-linked version file's CONTENT (it was fsync'd above).
    try:  # pragma: no cover - platform-dependent dir-fsync support
        dfd = os.open(_log_path(table), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass
    try:
        os.remove(tmp)
    except OSError:  # pragma: no cover
        pass


def _commit_op(
    table: str,
    version: int,
    actions: list[dict],
    operation: str,
    parameters: dict,
    staged=(),
) -> int:
    """THE commit step every verb goes through: append the
    ``commitInfo`` action, publish ``version`` (:func:`_commit`), and on
    a failed publish remove the ``staged`` files ({"path": ...} entries
    this commit placed under the table root) before the error
    propagates. Returns the version."""
    commit_info = {
        "commitInfo": {"operation": operation, "operationParameters": parameters, "timestamp": 0}
    }
    try:
        _commit(table, version, [*actions, commit_info])
    except Exception:
        _remove_staged(table, staged)
        raise
    return version


def last_txn_version(table: str, app_id: str) -> int | None:
    """Latest ``txn`` action version recorded for ``app_id`` — the
    protocol's idempotent-writer bookkeeping (a streaming sink asks
    "did I already commit this micro-batch?" here before writing).
    Returns None when no txn for the app is recorded in the retained
    JSON log; raises when the log prefix was checkpoint-cleaned and no
    retained txn exists — a vanished commit might have carried the
    app's txn, and guessing "never written" would double-apply a batch
    (txn persistence through parquet checkpoints is documented out of
    scope; keep the JSON tail longer than the app's replay horizon)."""
    versions = _list_versions(table)
    # newest-first, first hit wins: write_delta enforces per-app txn
    # monotonicity (at-or-below is skipped), so the newest commit
    # carrying the app's txn holds its max — a streaming sink's
    # per-batch check is O(commits since the app's last write), not
    # O(whole retained log)
    for v in reversed(versions):
        for action in _actions(table, v):
            txn = action.get("txn")
            if txn and txn.get("appId") == app_id:
                return txn["version"]
    if _last_checkpoint(table) is not None and (not versions or min(versions) > 0):
        raise ValueError(
            f"txn visibility for app {app_id!r} on {table} is lost: "
            "the JSON log below the checkpoint was cleaned and no "
            "retained commit carries the app's txn — cannot decide "
            "idempotency safely"
        )
    return None


def write_delta(
    df: DataFrame,
    table: str,
    mode: str = "append",
    stats_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
    merge_schema: bool = False,
    retries: int = 0,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Commit df to the Delta table at ``table`` (append or overwrite);
    returns the committed version. Version 0 carries protocol+metaData
    like real Delta (including ``partitionColumns`` when
    ``partition_by`` is given — the reference's own layout is
    ``partition_by="date"``, preprocess.py:169-175); both modes are
    schema-enforced against that metaData by field names/types —
    mismatches raise, they never silently drop or null columns.
    ``merge_schema=True`` (Delta's ``mergeSchema``) permits exactly the
    ADDITIVE case: every recorded field present with its recorded
    shape plus new fields; the commit then carries a fresh metaData
    action with the widened schema (same table id), old files read
    back with nulls in the new columns, and time travel below the
    evolution commit still applies the old schema. Column drops,
    renames, and type changes still raise (that is ``overwriteSchema``
    territory — out of scope). Later writes must agree with the
    recorded partition columns (pass ``partition_by=()`` to inherit
    them — appends don't re-declare layout; a conflicting non-empty
    value raises; evolution cannot change the layout either).
    Overwrite commits remove every live file first. If
    the version race is lost, this attempt's staged data files are
    removed before FileExistsError propagates; once the version file is
    linked, the commit is irrevocable and later cleanup hiccups cannot
    unstage it.

    ``retries`` (append only) is the real protocol's optimistic
    concurrency: a BLIND append reads nothing, so it commutes with any
    concurrent append/OPTIMIZE — on a lost version race the already-
    staged files are re-validated against the NEW head (the winner may
    have evolved the schema or created the table with a different
    layout, which still raises) and re-committed at the next version.
    Overwrite never retries: its remove-set was computed against the
    old snapshot, and silently re-running it would drop the concurrent
    winner's rows — the loser must re-read and re-decide.

    ``txn=(app_id, txn_version)`` (append only) records the protocol's
    transaction-identifier action alongside the data, making the write
    IDEMPOTENT: if the table already carries a txn for ``app_id`` at
    or above ``txn_version``, the write is skipped and None returned —
    the exactly-once contract a streaming micro-batch sink needs on
    at-least-once redelivery. The check re-runs on every retry attempt,
    so losing a version race to a DUPLICATE of yourself (the crashed
    predecessor's commit) also resolves to a skip, not a double-write."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode: {mode}")
    if txn is not None and mode != "append":
        raise ValueError("txn idempotency is defined for append commits only")
    os.makedirs(table, exist_ok=True)
    adds: list[dict] | None = None
    staged_key = None  # (layout, physical-name map, generated columns) of `adds`
    attempts = 1 + max(0, retries if mode == "append" else 0)
    for attempt in range(attempts):
        try:  # any failure of an attempt removes its staged files (no orphans)
            if txn is not None and os.path.isdir(_log_path(table)):
                seen = last_txn_version(table, txn[0])
                if seen is not None and seen >= txn[1]:
                    _remove_staged(table, adds or [])  # staged in a lost-race attempt
                    return None
            version = _next_version(table)  # refuses gapped logs
            actions: list[dict] = []
            mapped_meta: dict | None = None
            df_eff = df  # generated columns may extend this per attempt
            gen_key = ""
            if version == 0:
                actions.append({"protocol": dict(_BASE_PROTOCOL)})
                actions.append(
                    {
                        "metaData": {
                            "id": uuid.uuid4().hex,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": df.schema.json(),
                            "partitionColumns": list(partition_by),
                            "configuration": {},
                            "createdTime": 0,
                        }
                    }
                )
                layout = tuple(partition_by)
            else:
                # ONE metadata walk per commit (schema + layout both come off
                # it) — with checkpointing every N commits the walk is O(tail),
                # and not repeating it keeps an N-commit append loop O(N·tail)
                meta = _table_metadata(table)
                if mode == "overwrite":
                    _refuse_append_only(meta, "write_delta(mode='overwrite')")
                # generated columns: compute absent, verify present
                df_eff = _apply_generated_columns(df, meta)
                gen_key = json.dumps(_generated_columns(meta), sort_keys=True)
                recorded = None if meta is None else json.loads(meta["schemaString"])
                proposed = json.loads(df_eff.schema.json())
                if recorded is not None and _schema_shape(recorded) != _schema_shape(proposed):
                    if merge_schema and _mapping_on(meta):
                        raise ValueError(
                            "schema evolution on a column-mapped table is not "
                            "supported (new fields need column-id assignment)"
                        )
                    if not (merge_schema and _is_additive_evolution(recorded, proposed)):
                        raise ValueError(
                            f"schema mismatch writing to {table} (mode={mode}): the "
                            "table's metaData schema differs from the DataFrame's in "
                            "field names or types. Append and overwrite both enforce "
                            "the recorded schema; pass merge_schema=True for the "
                            "additive case (every recorded field kept with its "
                            "recorded shape, new fields added) — drops, renames, "
                            "and type changes always raise"
                        )
                    actions.append({"metaData": {**meta, "schemaString": df_eff.schema.json()}})
                # CHECK constraints (re-read per attempt: the winner of a
                # lost race may have added one)
                _check_constraints(df_eff, meta)
                mapped_meta = meta if _mapping_on(meta) else None
                layout = () if meta is None else tuple(meta.get("partitionColumns", []))
                if partition_by and tuple(partition_by) != layout:
                    raise ValueError(
                        f"partition mismatch writing to {table}: table is "
                        f"partitioned by {layout}, write declared "
                        f"{tuple(partition_by)}. Layout is fixed at version 0; "
                        "pass partition_by=() to inherit it"
                    )
                if mode == "overwrite":
                    actions.extend(_remove_action(f, True) for f in snapshot_files(table))
            key = (layout, None if mapped_meta is None else mapped_meta["schemaString"], gen_key)
            if adds is not None and staged_key != key:
                # lost a CREATE race to a winner with a different layout or
                # column mapping: the staged files' hive paths /
                # partitionValues / physical column names are wrong
                _remove_staged(table, adds)
                adds = None
            if adds is None:  # stage ONCE; retries recommit the same files
                stage_df, stage_stats = df_eff, stats_cols
                if mapped_meta is not None:
                    # column mapping: data files store PHYSICAL names; the
                    # caller's frame (and stats_cols) speak logical
                    from pyspark.sql import functions as F

                    phys_of = _physical_names(mapped_meta)
                    stage_df = df_eff.select(
                        *[F.col(n).alias(phys_of[n]) for n in df_eff.columns]
                    )
                    stage_stats = tuple(phys_of.get(c, c) for c in stats_cols)
                adds = _stage_files(stage_df, table, stage_stats, partition_by=layout)
                staged_key = key
            actions.extend({"add": a} for a in adds)
            if txn is not None:
                actions.append({"txn": {"appId": txn[0], "version": txn[1]}})
            return _commit_op(table, version, actions, "WRITE", {"mode": mode.upper()})
        except Exception as exc:
            if isinstance(exc, FileExistsError) and attempt + 1 < attempts:
                continue  # lost the version race: re-validate, re-commit
            _remove_staged(table, adds or [])
            raise


def _schema_shape(schema_dict):
    """Schema compared by field NAMES and TYPES only: nullability and
    field metadata are dropped recursively. Spark file sources force
    read schemas nullable, so exact JSON equality would reject a
    table's own read-back snapshot — real Delta accepts
    nullable-compatible writes."""
    if isinstance(schema_dict, dict):
        return {
            k: _schema_shape(v)
            for k, v in schema_dict.items()
            if k not in ("nullable", "metadata", "containsNull", "valueContainsNull")
        }
    if isinstance(schema_dict, list):
        return [_schema_shape(v) for v in schema_dict]
    return schema_dict


def _check_contiguous(table: str, versions: list[int]) -> None:
    """The retained JSON chain must be contiguous, and must start at 0
    unless a checkpoint covers the cleaned prefix (start ≤ cp+1)."""
    if not versions:
        return
    cp = _last_checkpoint(table)
    cpv = None if cp is None else cp["version"]
    if versions != list(range(versions[0], versions[-1] + 1)) or not (
        versions[0] == 0 or (cpv is not None and versions[0] <= cpv + 1)
    ):
        raise ValueError(
            f"non-contiguous Delta log in {table}: versions {versions}"
            + (f" with last checkpoint {cpv}" if cpv is not None else "")
            + " (a missing version file means lost commits)"
        )


def _newest(table: str, kind: str, version: int | None = None) -> dict | None:
    """The newest ``kind`` action ("metaData" or "protocol") AS OF
    ``version`` (None = latest): the NEWEST one at-or-below the version
    wins — schema evolution commits a fresh metaData action and feature
    commits upgrade the protocol, and time travel must read each
    snapshot under the actions it was written with (real Delta replay
    semantics). For a target at-or-above the checkpoint, only the JSON
    TAIL after the checkpoint is scanned (newest-first) before falling
    back to the checkpoint's carried action — the scan is O(tail), and
    checkpointing every N commits bounds it the same way it bounds
    replay. Time travel below the checkpoint walks the retained JSON
    chain down from the target. A missing or corrupt version file
    inside the needed range RAISES (a swallowed parse error here would
    silently resolve an evolved table to its older schema — the guess
    this module never makes)."""
    cp = _last_checkpoint(table)
    top = float("inf") if version is None else version
    lo = cp["version"] if (cp is not None and top >= cp["version"]) else -1
    for v in reversed(_list_versions(table)):
        if lo < v <= top:
            for action in _actions(table, v):
                if kind in action:
                    return action[kind]
    if cp is not None and cp["version"] <= top:
        meta, proto, _ = _read_checkpoint(table, cp)
        return meta if kind == "metaData" else proto
    return None


def _table_metadata(table: str, version: int | None = None) -> dict | None:
    """The table's metaData action AS OF ``version`` (see :func:`_newest`)."""
    return _newest(table, "metaData", version)


def _require_metadata(table: str, version: int | None = None) -> dict:
    meta = _newest(table, "metaData", version)
    if meta is None:
        raise ValueError(f"no metaData action in version 0 of {table}")
    return meta


def _table_protocol(table: str, version: int | None = None) -> dict:
    """The table's protocol action AS OF ``version`` (feature commits
    like CHECK constraints and column mapping upgrade it), else the
    module's base (1, 2)."""
    return dict(_newest(table, "protocol", version) or _BASE_PROTOCOL)


def partition_columns(table: str) -> list[str]:
    """The partition layout recorded at table creation (metaData's
    partitionColumns — [] for unpartitioned tables; schema evolution
    never changes it — the writer enforces that)."""
    return list(_require_metadata(table).get("partitionColumns", []))


def _head(table: str, versions: list[int]) -> int:
    """Newest version over the retained JSON and the checkpoint pointer
    (-1: no commit)."""
    cp = _last_checkpoint(table)
    return max(versions[-1] if versions else -1, -1 if cp is None else cp["version"])


def _latest_version(table: str) -> int:
    latest = _head(table, _list_versions(table))
    if latest < 0:
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {table}")
    return latest


def _next_version(table: str) -> int:
    """The version a new commit must claim: latest + 1 over the
    retained JSON and the checkpoint pointer, after refusing gapped
    logs. Every verb claims it BEFORE planning (the TOCTOU rule): a
    commit landing between the claim and the publish then turns into
    an explicit FileExistsError at the O_EXCL link, instead of a
    commit computed against a stale snapshot — one that would clobber
    a concurrent metaData change or resurrect overwritten rows."""
    versions = _list_versions(table)
    _check_contiguous(table, versions)
    return _head(table, versions) + 1


def _replay(table: str, version: int | None = None) -> dict[str, dict]:
    """Replay the log up to ``version`` (inclusive; None = latest) →
    {relative path: add action} of live files.

    Starts from the newest checkpoint at-or-below ``version`` whenever
    one exists and applies only the JSON tail (O(live files + tail
    actions) — the point of checkpoints on hourly-append logs, and it
    must kick in while the JSON prefix is still retained, not only
    after cleanup: real Delta replays from the checkpoint
    unconditionally). Time travel below the checkpoint falls back to
    the pure-JSON ``0..version`` chain. A gap in whichever chain is
    needed means commits were lost: raise, never return a silently
    wrong snapshot; likewise time travel to a version whose JSON
    prefix was cleaned past the checkpoint."""
    latest = _latest_version(table)
    if version is None:
        version = latest
    if version < 0 or version > latest:
        raise ValueError(f"version {version} not in table history 0..{latest}")
    have = set(_list_versions(table))
    cp = _last_checkpoint(table)
    cpv = None if cp is None else cp["version"]
    if cpv is not None and version >= cpv:
        _, _, adds = _read_checkpoint(table, cp)
        live = {a["path"]: a for a in adds}
        start = cpv + 1
        missing = [v for v in range(start, version + 1) if v not in have]
        if missing:
            raise ValueError(
                f"non-contiguous Delta log in {table}: versions {missing} "
                f"missing after checkpoint {cpv} (lost commits)"
            )
    elif all(v in have for v in range(version + 1)):
        live = {}
        start = 0
    elif cpv is None:
        missing = sorted(set(range(version + 1)) - have)
        raise ValueError(
            f"non-contiguous Delta log in {table}: versions {missing} "
            "missing (a missing version file means lost commits)"
        )
    else:
        raise ValueError(
            f"cannot replay version {version} of {table}: its JSON prefix "
            f"was cleaned up past checkpoint {cpv} (time travel below the "
            "checkpoint requires the retained JSON chain)"
        )
    for v in range(start, version + 1):
        for action in _actions(table, v):
            if "add" in action:
                live[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
    return live


def _match_partition(add: dict, partition_filter: dict | None) -> bool:
    if not partition_filter:
        return True
    pvals = add.get("partitionValues", {})
    return all(
        pvals.get(k) == (None if v is None else str(v))
        for k, v in partition_filter.items()
    )


_STATS_OPS = ("=", "==", "<", "<=", ">", ">=")


def _stats_excludes(add: dict, stats_filter) -> bool:
    """True iff the add action's recorded min/max stats PROVE the file
    can contain no row satisfying the conjunction of ``stats_filter``
    predicates — the zone-map skipping rule. Missing or non-comparable
    stats keep the file (pruning must only ever be provably sound;
    null column values never satisfy <,<=,>,>=,= so min/max — which
    ignore nulls — stay a sound bound)."""
    if not stats_filter:
        return False
    try:
        stats = json.loads(add["stats"]) if "stats" in add else None
    except (TypeError, json.JSONDecodeError):
        stats = None
    if not stats:
        return False
    mins, maxs = stats.get("minValues", {}), stats.get("maxValues", {})
    for col, op, value in stats_filter:
        if col not in mins or col not in maxs:
            continue  # no stats for this column: cannot skip on it
        lo, hi = mins[col], maxs[col]
        same_kind = (
            isinstance(lo, str) and isinstance(value, str)
        ) or (
            isinstance(lo, (int, float)) and not isinstance(lo, bool)
            and isinstance(value, (int, float)) and not isinstance(value, bool)
        )
        if not same_kind:
            continue  # never guess across types; keep the file
        if (
            (op in (">", ">=") and (hi < value or (op == ">" and hi == value)))
            or (op in ("<", "<=") and (lo > value or (op == "<" and lo == value)))
            or (op in ("=", "==") and (value < lo or value > hi))
        ):
            return True  # this predicate alone is unsatisfiable here
    return False


def _check_stats_filter(stats_filter) -> None:
    for pred in stats_filter or ():
        if len(pred) != 3 or pred[1] not in _STATS_OPS:
            raise ValueError(
                f"stats_filter predicates are (col, op, value) with op in "
                f"{_STATS_OPS}; got {pred!r}"
            )
        if pred[2] is None:
            raise ValueError(
                "stats_filter cannot express NULL predicates: min/max "
                "stats ignore nulls, so no file is provably free of them"
            )


def snapshot_files(
    table: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_filter=None,
) -> list[str]:
    """Live data-file paths (relative) at a version — the scan
    manifest. ``partition_filter`` ({col: value}) prunes from the LOG's
    partitionValues: non-matching files are never listed, let alone
    opened (values compare as their string encoding; None matches null
    partitions). Filter keys are validated against the table's
    recorded partitionColumns — a typo'd or non-partition key would
    otherwise match nothing (``pvals.get(k)`` is None for every file)
    and silently return an empty scan, the exact class of silently
    wrong answer this module refuses everywhere else.

    ``stats_filter`` (iterable of ``(col, op, value)``, op ∈
    ``=,==,<,<=,>,>=``, conjunction semantics) additionally DATA-SKIPS
    on the add actions' recorded min/max column stats: a file whose
    stats prove no row can match is never listed (Delta data skipping
    / zone maps — at 100 TB this is what turns a point/range query on
    a sorted-write column from a full scan into a handful of files).
    Skipping is an optimization with an exactness contract: only
    provably-non-matching files are dropped, and the CALLER still owns
    applying the actual predicate to the surviving rows — files
    without stats on a column always survive."""
    meta = _table_metadata(table, version) or {}
    return [p for p, _ in _manifest(table, meta, version, partition_filter, stats_filter)]


def _manifest(
    table: str, meta: dict, version, partition_filter, stats_filter
) -> list[tuple[str, dict]]:
    """Sorted (path, add) entries of the snapshot at ``version`` that
    survive ``partition_filter`` and ``stats_filter`` (validated against
    ``meta``, the snapshot's metaData) — the scan manifest behind
    :func:`snapshot_files` and :func:`read_delta`."""
    pcols = meta.get("partitionColumns", [])
    bad = sorted(set(partition_filter or ()) - set(pcols))
    if bad:
        raise ValueError(
            f"partition_filter keys {bad} are not partition columns of "
            f"{table} (partitioned by {sorted(pcols)})"
        )
    stats_filter = _translate_stats_filter(meta, stats_filter)
    _check_stats_filter(stats_filter)
    return sorted(
        (
            (p, a)
            for p, a in _replay(table, version).items()
            if _match_partition(a, partition_filter)
            and not _stats_excludes(a, stats_filter)
        ),
        key=lambda e: e[0],
    )


def _is_additive_evolution(recorded: dict, proposed: dict) -> bool:
    """True iff ``proposed`` keeps every recorded top-level field with
    an identical shape (name + type, nullability ignored) and only
    ADDS fields — the mergeSchema-eligible case."""
    rec = {f["name"]: _schema_shape(f) for f in recorded.get("fields", [])}
    prop = {f["name"]: _schema_shape(f) for f in proposed.get("fields", [])}
    return all(name in prop and prop[name] == shape for name, shape in rec.items())


def read_delta(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    partition_filter: dict | None = None,
    stats_filter=None,
) -> DataFrame:
    """Snapshot scan (time travel with ``version``). Reads exactly the
    live files the log names — never a directory listing, so stray or
    uncommitted files are invisible — under the LOG's recorded schema
    (not whichever footer Spark happens to resolve first), like real
    Delta.

    Partitioned tables: ``partition_filter`` ({col: value}) prunes the
    file list from the log's partitionValues BEFORE Spark sees it — a
    corrupt or missing file in a non-matching partition can never fail
    the scan. Partition columns are not stored in the data files (same
    as real Delta); the scan re-derives them from the hive paths under
    ``basePath`` and casts them per the log's schema, so the returned
    frame always has the full recorded schema in recorded order.

    ``stats_filter`` data-skips whole files on the log's min/max stats
    (see :func:`snapshot_files`); the caller must still ``.where()``
    the actual predicate — surviving files may contain non-matching
    rows.

    Schema is resolved AS OF the requested version: a snapshot below a
    merge_schema evolution commit reads under the old schema, at-or-
    above it under the widened one (pre-evolution files fill the new
    columns with nulls — the parquet reader's missing-column rule).

    Files carrying a deletion vector (merge-on-read deletes,
    :func:`delete_delta_dv`) are read THROUGH it: their rows anti-join
    the DV's (file, row_index) set before entering the result — the
    protocol's read-side DV contract. DV-free files never pay the
    metadata-column or join cost."""
    # one metadata walk serves both schema and layout (the layout is
    # fixed at v0 and evolution metaData carries it forward unchanged)
    meta = _require_metadata(table, version)
    entries = _manifest(table, meta, version, partition_filter, stats_filter)
    return _scan(spark, table, meta, entries)


def _scan(spark, table: str, meta: dict, entries, rowmeta: bool = False) -> DataFrame:
    """THE deletion-vector-aware scan: the LOGICALLY live rows of an
    explicit list of a snapshot's (path, add) entries, under ``meta``'s
    recorded schema. Files carrying a deletion vector are read THROUGH
    it (their deleted rows anti-join the vector's (file, row_index) set
    before the caller sees them, so no predicate or merge key can bind
    a row that is already gone); DV-free files never pay the
    metadata-column or join cost. ``rowmeta=True`` appends each row's
    ``__delta_dv_file``/``__delta_dv_pos`` (file name, row index) — the
    coordinates DELETE, MERGE and PURGE address rows by. Column-mapped
    tables read physical file columns and alias them back to the
    snapshot's logical names. Serves :func:`read_delta` (full
    manifest), :func:`snapshot_diff` (symmetric-difference manifest),
    DELETE and MERGE (all live files) and PURGE (the DV'd files)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mapped = _mapping_on(meta)
    read_schema = _physical_schema(schema) if mapped else schema
    cols = [f.name for f in read_schema.fields]
    row_cols = [
        F.col("_metadata.file_name").alias("__delta_dv_file"),
        F.col("_metadata.row_index").alias("__delta_dv_pos"),
    ]
    keep = [*cols, "__delta_dv_file", "__delta_dv_pos"] if rowmeta else cols
    plain = [os.path.join(table, p) for p, a in entries if "deletionVector" not in a]
    dvd = [(p, a["deletionVector"]) for p, a in entries if "deletionVector" in a]
    if rowmeta or dvd:
        _check_dv_reserved(cols)
    reader = spark.read.schema(read_schema)
    if meta.get("partitionColumns"):
        reader = reader.option("basePath", table)
    parts = []
    if plain:
        parts.append(reader.parquet(*plain).select(*cols, *(row_cols if rowmeta else [])))
    if dvd:
        dv_rows = spark.read.parquet(
            *[os.path.join(table, dv["path"]) for _, dv in dvd]
        ).select("__delta_dv_file", "__delta_dv_pos")
        parts.append(
            reader.parquet(*[os.path.join(table, p) for p, _ in dvd])
            .select(*cols, *row_cols)
            .join(dv_rows, ["__delta_dv_file", "__delta_dv_pos"], "left_anti")
            .select(*keep)
        )
    if not parts:
        return local_frame(spark, [], schema)
    out = functools.reduce(DataFrame.unionByName, parts)
    if mapped:  # physical file names → the snapshot's logical names
        out = out.select(
            *[F.col(_physical_name(f)).alias(f.name) for f in schema.fields],
            *keep[len(cols):],
        )
    return out


def snapshot_diff(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots in O(changed files) — the
    version-pair CDC that works where :func:`delta_changes` refuses
    (overwrite, RESTORE, MERGE, DV-delete commits in the range).

    Files carried over unchanged — same path AND same deletionVector
    reference — are provably identical (data files are immutable; a DV
    swap is the only way a carried file's visible rows change) and are
    never opened; only the symmetric difference of the two manifests is
    scanned. The row diff is then a multiset EXCEPT in each direction,
    so rows an OPTIMIZE merely moved between files cancel and a
    dataChange:false-only range reports zero changes — at the cost of
    reading the rewritten bins, which delta_changes avoids by trusting
    the flag. Trade-offs: delta_changes is O(appended data) but
    append-only; this is O(changed files) and total.

    Returns the table schema plus ``_change_type`` ('insert' rows are
    in ``to`` but not ``from``; 'delete' the reverse). Snapshots whose
    recorded schemas differ (evolution or column rename in the range)
    raise — a diff across shapes has no well-defined row equality.
    """
    from pyspark.sql import functions as F

    if to_version is None:
        to_version = _latest_version(table)
    m_from = _require_metadata(table, from_version)
    m_to = _require_metadata(table, to_version)
    if m_from["schemaString"] != m_to["schemaString"]:
        raise ValueError(
            f"snapshot_diff across a schema change (v{from_version} -> "
            f"v{to_version} of {table}): row equality is undefined across "
            "shapes; diff each side of the evolution commit separately"
        )
    live_f = _replay(table, from_version)
    live_t = _replay(table, to_version)

    def only(live: dict, other: dict) -> list[tuple[str, dict]]:
        # same path AND same deletionVector reference: provably identical
        return sorted(
            ((p, a) for p, a in live.items()
             if p not in other or other[p].get("deletionVector") != a.get("deletionVector")),
            key=lambda e: e[0],
        )

    old = _scan(spark, table, m_from, only(live_f, live_t))
    new = _scan(spark, table, m_to, only(live_t, live_f))
    return (
        new.exceptAll(old)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(old.exceptAll(new).withColumn("_change_type", F.lit("delete")))
    )


def delete_delta_dv(spark: SparkSession, table: str, predicate: str) -> dict:
    """Merge-on-read DELETE via deletion vectors — the protocol piece
    that makes deletes O(matching rows) instead of O(rewritten files):
    rows matching ``predicate`` (a SQL expression over the table's
    columns, partition columns included) are recorded as per-file
    (file, row_index) sidecars, and each touched file's add action is
    re-committed carrying a ``deletionVector`` reference. DATA FILES
    ARE NOT TOUCHED — time travel below the delete still sees every
    row from the same bytes, and a petabyte table deletes a single
    user's rows without rewriting anything (the GDPR-erasure shape).
    Re-deleting a file unions the new rows into a fresh sidecar (the
    old one becomes vacuum-able garbage). Returns
    ``{"version": v | None, "deleted_rows": n, "files": k}`` —
    version ``None`` when nothing matched (no empty commit).

    Consequences handled module-wide: reads anti-join the DV
    (``read_delta``), stats become LOOSE bounds (``high_water_mark``
    refuses stats-only answers for DV'd files — a deleted max must
    not be reported), OPTIMIZE skips DV'd files and ZORDER refuses
    them (:func:`materialize_deletes` is the purge that rewrites them
    clean), and the append-only change feed raises on the delete
    commit (it removes data, which the feed cannot represent).

    Scale shape: the matching scan is one pushdown-filtered pass;
    sidecar writes are distributed (one file per touched data file via
    a partitioned stage); the only driver-side state is the touched-
    file list and per-file cardinalities — O(|touched files|)
    metadata. The commit claims its version at plan time, so a
    concurrent commit conflicts explicitly."""
    from pyspark.sql import functions as F

    meta = _require_metadata(table)
    _refuse_mapping(meta, "delete_delta_dv")
    _refuse_append_only(meta, "delete_delta_dv")
    version = _next_version(table)  # claim at plan time (TOCTOU rule)
    live = _replay(table)
    if not live:
        return {"version": None, "deleted_rows": 0, "files": 0}
    hits = (
        # scan reads THROUGH existing DVs: a row that is already
        # logically deleted must not match (and not re-count)
        _scan(spark, table, meta, sorted(live.items()), rowmeta=True)
        .where(F.expr(predicate))
        .select("__delta_dv_file", "__delta_dv_pos")
        # materialize the matched set ONCE (it is deleted-rows-sized);
        # the per-file counts and the sidecar write must not each
        # re-run the filtered table scan
        .localCheckpoint()
    )
    new_hits = {
        r["__delta_dv_file"]: r["count"]
        for r in hits.groupBy("__delta_dv_file").count().collect()
    }
    if not new_hits:
        return {"version": None, "deleted_rows": 0, "files": 0}
    actions, sidecars = _stage_dv_actions(spark, table, hits, live, new_hits)
    _commit_op(
        table, version, actions, "DELETE", {"predicate": predicate, "mode": "DV"},
        staged=sidecars,
    )
    return {
        "version": version,
        "deleted_rows": sum(new_hits.values()),
        "files": len(new_hits),
    }


def _stage_dv_actions(
    spark: SparkSession,
    table: str,
    hits,
    live: dict[str, dict],
    new_hits: dict[str, int],
) -> tuple[list[dict], list[dict]]:
    """Stage one fresh deletion-vector sidecar per touched data file and
    return ``(actions, new_sidecars)``: per file a dataChange remove
    of its current add entry plus the same entry re-added carrying the
    new DV reference. ``hits`` is a (dv_file, row_index) DataFrame of
    NEWLY deleted rows and ``new_hits`` their count per touched file
    (the new vector's cardinality adds the old one's, since a row
    already deleted never matches again); pre-existing DVs of the
    touched files are unioned in — the new sidecar is the FULL deleted
    set for its file (one DV per file, per protocol). A file whose
    every recorded row is now deleted gets the remove alone — it
    leaves the snapshot, as in real Delta, instead of staying live
    behind a full-cardinality vector. Sidecar writes are distributed
    (one hash partition per touched file); callers commit with
    ``staged=new_sidecars``."""
    from pyspark.sql import functions as F

    by_name = {os.path.basename(p): p for p in live}
    touched = sorted(new_hits)
    old_sidecars = [
        os.path.join(table, live[by_name[t]]["deletionVector"]["path"])
        for t in touched
        if "deletionVector" in live[by_name[t]]
    ]
    dv = hits
    if old_sidecars:
        dv = dv.unionByName(
            spark.read.parquet(*old_sidecars).select("__delta_dv_file", "__delta_dv_pos")
        )
    actions: list[dict] = []
    n_deleted = {}
    for t in touched:
        old_add = live[by_name[t]]
        actions.append(_remove_action(by_name[t], True))
        n = new_hits[t] + old_add.get("deletionVector", {}).get("cardinality", 0)
        if n != json.loads(old_add.get("stats") or "{}").get("numRecords"):
            n_deleted[t] = n  # else every row is deleted: the remove retires it
    with _stage_dir(table) as stage:
        (
            dv.distinct()
            .withColumn("__delta_dv_pf", F.col("__delta_dv_file"))
            .repartition(len(touched), "__delta_dv_pf")
            .sortWithinPartitions("__delta_dv_pf", "__delta_dv_pos")
            .write.partitionBy("__delta_dv_pf")
            .mode("overwrite")
            .parquet(stage)
        )
        moved = _move_staged(
            table, stage, "__delta_dv_pf", dict.fromkeys(n_deleted, ""),
            prefix="deletion-vector",
        )
    for t, n in n_deleted.items():
        dv_ref = {"path": moved[t][0], "cardinality": int(n)}
        actions.append({"add": {**live[by_name[t]], "dataChange": True, "deletionVector": dv_ref}})
    return actions, [{"path": rel} for rel, _ in moved.values()]


#: internal column names used by the DV machinery (sidecar schema and
#: row-metadata scans) — reserved like real Delta's __delta-prefixed
#: names; a user column with one of these would make every DV join
#: ambiguous, so the scan helpers refuse loudly instead
_DV_RESERVED = ("__delta_dv_file", "__delta_dv_pos", "__delta_dv_pf", "__delta_del")


def _check_dv_reserved(cols) -> None:
    clash = sorted(set(cols) & set(_DV_RESERVED))
    if clash:
        raise ValueError(
            f"table columns {clash} collide with the deletion-vector "
            f"machinery's reserved names {_DV_RESERVED}"
        )


def merge_delta_dv(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: tuple[str, ...] | list[str],
    stats_cols: tuple[str, ...] = (),
    deletes: DataFrame | None = None,
) -> dict:
    """MERGE INTO with merge-on-read semantics (Delta's low-shuffle
    DV merge): target rows whose ``on`` key appears in ``source`` are
    DV-deleted in place — no data file is rewritten — and their
    replacements (the full source row) land together with the
    unmatched source rows as ordinary appended files, all in ONE
    commit. This is the upsert every CDC/ingest pipeline runs hourly;
    at 100 TB the cost is O(source + matching rows), never O(table).

    ``deletes`` (key rows: the ``on`` columns) is Delta's ``WHEN
    MATCHED THEN DELETE`` clause as data: every live target row whose
    key appears there is DV-deleted in the same commit, wherever it
    lives, and nothing replaces it; a key matching no row is a no-op.
    A key present in both ``source`` and ``deletes`` raises — one
    commit cannot both replace and delete a row.

    Semantics pinned to the real protocol: the source must be
    key-unique (several source rows binding one target row is Delta's
    ``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW`` error — raised
    here too); duplicate-key TARGET rows are all updated (each matched
    target row is replaced, so target multiplicity is preserved);
    rows already DV-deleted never match (the key scan reads through
    existing vectors); matched rows are replaced unconditionally (no
    change detection). Source schema must equal the table schema —
    MERGE does not evolve. Returns ``{"version", "updated",
    "inserted", "deleted", "files_touched"}`` (version ``None`` when
    nothing matches and nothing is inserted: no empty commit).

    Scale shape: ONE target scan with row metadata joined once against
    the source and delete keys together (AQE picks broadcast vs
    shuffle by actual size); the join result is materialized once
    (source-sized, not table-sized) and feeds the DV sidecars, the
    appended file stage, and the counters. Version claimed at plan
    time (TOCTOU rule): a concurrent commit conflicts explicitly
    rather than silently merging against a stale snapshot."""
    from collections import Counter

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    meta = _require_metadata(table)
    _refuse_mapping(meta, "merge_delta_dv")
    _refuse_append_only(meta, "merge_delta_dv")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = meta.get("partitionColumns", [])
    on = list(on)
    if not on:
        raise ValueError("merge_delta_dv needs at least one join key")
    missing = [k for k in on if k not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"merge keys {missing} are not columns of {table}")
    cols = [f.name for f in schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} differ from "
            f"{table}'s recorded columns {sorted(cols)} — MERGE does not "
            "evolve schemas"
        )
    source = source.select(*cols)  # align order; shape check is order-free
    if _schema_shape(json.loads(meta["schemaString"])) != _schema_shape(
        json.loads(source.schema.json())
    ):
        raise ValueError(
            f"merge source schema differs from {table}'s recorded schema "
            "in field types — MERGE does not evolve schemas"
        )
    version = _next_version(table)  # claim at plan time (TOCTOU rule)
    source = source.localCheckpoint()  # one pass, reused 4×
    _check_constraints(source, meta)  # MERGE's appended rows obey CHECKs
    # (merge sources carry the full schema, so this only VERIFIES)
    _apply_generated_columns(source, meta)
    # delete keys ride the same probe as the source rows, flagged and
    # null-padded, so one target scan and one join serve both clauses
    probe = source.withColumn("__delta_del", F.lit(False))
    if deletes is not None:
        types = {f.name: f.dataType for f in schema.fields}
        probe = probe.unionByName(
            deletes.select(*on)
            .distinct()
            .select(
                *[
                    (F.col(c) if c in on else F.lit(None)).cast(types[c]).alias(c)
                    for c in cols
                ],
                F.lit(True).alias("__delta_del"),
            )
        )
    # uniqueness only matters for keys that CAN bind a target row:
    # null-keyed probe rows never match (the join below never binds
    # them — they are plain inserts), so Delta's multiple-source-row
    # error does not apply to them
    non_null = probe
    for k in on:
        non_null = non_null.where(F.col(k).isNotNull())
    clash = (
        non_null.groupBy(*on)
        .agg(
            F.count("*").alias("n"),
            F.max(F.col("__delta_del").cast("int")).alias("del"),
        )
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if clash and clash[0]["del"]:
        raise ValueError(
            f"merge key {dict((k, clash[0][k]) for k in on)!r} is in both "
            "source and deletes: one commit cannot replace and delete a row"
        )
    if clash:
        raise ValueError(
            "merge source is not key-unique on "
            f"{on}: several source rows would bind the same target row "
            "(Delta's multiple-source-row-matching error)"
        )
    live = _replay(table)
    if live:
        target_keys = _scan(spark, table, meta, sorted(live.items()), rowmeta=True).select(
            *on, "__delta_dv_file", "__delta_dv_pos"
        )
        merged = probe.join(target_keys, on, "left").localCheckpoint()
    else:
        merged = probe.select(
            "*",
            F.lit(None).cast("string").alias("__delta_dv_file"),
            F.lit(None).cast("long").alias("__delta_dv_pos"),
        ).localCheckpoint()
    # one aggregate answers every counter and the touched-file list
    new_hits: Counter = Counter()
    n: Counter = Counter()  # rows by (matched a target row, delete key)
    for r in merged.groupBy("__delta_dv_file", "__delta_del").count().collect():
        matched = r["__delta_dv_file"] is not None
        if matched:
            new_hits[r["__delta_dv_file"]] += r["count"]
        n[matched, r["__delta_del"]] += r["count"]
    updated, deleted, inserted = n[True, False], n[True, True], n[False, False]
    if updated + inserted + deleted == 0:
        return {
            "version": None,
            "updated": 0,
            "inserted": 0,
            "deleted": 0,
            "files_touched": 0,
        }
    actions: list[dict] = []
    sidecars: list[dict] = []
    if new_hits:
        hits = merged.where(F.col("__delta_dv_file").isNotNull()).select(
            "__delta_dv_file", "__delta_dv_pos"
        )
        actions, sidecars = _stage_dv_actions(spark, table, hits, live, new_hits)
    try:
        new_adds = _stage_files(
            merged.where(~F.col("__delta_del")).select(*cols),
            table,
            stats_cols,
            partition_by=tuple(pcols),
        )
    except Exception:
        _remove_staged(table, sidecars)
        raise
    actions.extend({"add": a} for a in new_adds)
    _commit_op(
        table, version, actions, "MERGE", {"predicate": " AND ".join(on), "mode": "DV"},
        staged=sidecars + new_adds,
    )
    return {
        "version": version,
        "updated": updated,
        "inserted": inserted,
        "deleted": deleted,
        "files_touched": len(new_hits),
    }


def restore_delta(
    table: str, version: int, spark: SparkSession | None = None
) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF — revert the live snapshot
    (data AND schema) to an earlier version as a NEW commit, keeping
    the full history: the protocol's answer to a bad write, priced at
    O(|files changed since|) metadata — no data is copied, the commit
    re-adds the old versions' still-on-disk files and removes the
    newer ones. Files vacuumed since (data or DV sidecar) make the
    restore impossible and raise BEFORE anything is committed — a
    partial restore is silent corruption. Restoring to the current
    live state is a no-op (``version: None``): no empty commits.
    The add entries are copied verbatim from the target snapshot, so
    deletion vectors, stats, and partition values all travel with the
    restore; a later-evolved schema is reverted by re-committing the
    as-of metaData action.

    CHECK constraints added since the target version still bind: the
    restored snapshot's rows are re-validated against the CURRENT
    constraints before anything commits (pass ``spark`` — a
    constrained restore without a session raises rather than skipping
    the check), and a restore that would ALSO revert the schema under
    recorded constraints raises: their expressions were written
    against the current columns."""
    latest = _latest_version(table)
    if not 0 <= version <= latest:
        raise ValueError(
            f"cannot restore {table} to version {version}: latest is {latest}"
        )
    new_version = _next_version(table)  # claim at plan time (TOCTOU rule)
    target = _replay(table, version)
    current = _replay(table)
    meta_at = _require_metadata(table, version)
    meta_cur = _table_metadata(table)
    _refuse_mapping(meta_cur, "restore_delta")
    _refuse_append_only(meta_cur, "restore_delta")
    _refuse_mapping(meta_at, "restore_delta")
    to_add = {
        p: a for p, a in target.items() if current.get(p) != a
    }
    to_remove = sorted(p for p in current if p not in target)
    same_schema = _schema_shape(
        json.loads(meta_at["schemaString"])
    ) == _schema_shape(json.loads(meta_cur["schemaString"]))
    if not to_add and not to_remove and same_schema:
        return {"version": None, "restored_files": 0, "removed_files": 0}
    constraints = _table_constraints(meta_cur)
    generated = _generated_columns(meta_cur)
    if constraints or generated:
        # a restore is a WRITE of the target snapshot: rows the current
        # constraints forbid — or that diverge from a generation
        # expression declared since — must not silently reappear
        declared = sorted(constraints) + sorted(generated)
        if not same_schema:
            raise ValueError(
                f"cannot restore {table} to version {version}: CHECK "
                f"constraint(s)/generated column(s) {declared} are recorded "
                "against the CURRENT schema, which the restore would revert"
            )
        if spark is None:
            raise ValueError(
                f"restoring {table} needs a SparkSession: "
                f"{declared} must re-validate the restored rows"
            )
        restored = read_delta(spark, table, version=version)
        _check_constraints(restored, meta_cur)
        _apply_generated_columns(restored, meta_cur)  # full schema: verifies
    missing = [
        f
        for p, a in sorted(to_add.items())
        for f in [p] + (
            [a["deletionVector"]["path"]] if "deletionVector" in a else []
        )
        if not os.path.exists(os.path.join(table, f))
    ]
    if missing:
        raise ValueError(
            f"cannot restore {table} to version {version}: files "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''} were "
            "vacuumed — a partial restore would be silent corruption"
        )
    actions: list[dict] = []
    if not same_schema:
        actions.append({"metaData": {**meta_cur, "schemaString": meta_at["schemaString"]}})
    actions.extend(_remove_action(p, True) for p in to_remove)
    actions.extend({"add": {**a, "dataChange": True}} for _, a in sorted(to_add.items()))
    _commit_op(table, new_version, actions, "RESTORE", {"version": version})
    return {
        "version": new_version,
        "restored_files": len(to_add),
        "removed_files": len(to_remove),
    }


def materialize_deletes(spark: SparkSession, table: str) -> dict:
    """PURGE (Delta's ``REORG TABLE ... APPLY (PURGE)``): rewrite every
    DV-carrying file with its deletion vector applied, committing the
    swap with ``dataChange: false`` — the table's LOGICAL rows are
    unchanged, so incremental readers skip the commit; the orphaned
    sidecars and superseded data files become vacuum-able. This is the
    step that re-enables ZORDER (which refuses DV'd files) and
    restores tight stats bounds. Returns
    ``{"version": v | None, "files": n}``.

    Runs as :func:`optimize_delta`'s one-job bin rewrite with one bin
    per DV'd file, read through its vector; a file whose every row was
    deleted rewrites to nothing and gets the remove alone."""
    meta = _require_metadata(table)
    _refuse_mapping(meta, "materialize_deletes")
    version = _next_version(table)  # claim at plan time (TOCTOU rule)
    targets = sorted(
        ((p, a) for p, a in _replay(table).items() if "deletionVector" in a),
        key=lambda e: e[0],
    )
    if not targets:
        return {"version": None, "files": 0}
    adds = _rewrite_bins(spark, table, meta, [[e] for e in targets])
    _commit_rewrite(table, version, [p for p, _ in targets], adds, "PURGE", {})
    return {"version": version, "files": len(targets)}


_CM_MODE_KEY = "delta.columnMapping.mode"
_CM_ID_KEY = "delta.columnMapping.id"
_CM_PHYS_KEY = "delta.columnMapping.physicalName"


def _mapping_on(meta: dict | None) -> bool:
    return bool(meta) and (meta.get("configuration") or {}).get(
        _CM_MODE_KEY
    ) == "name"


def _physical_name(field) -> str:
    return (field.metadata or {}).get(_CM_PHYS_KEY, field.name)


def _physical_names(meta: dict) -> dict[str, str]:
    """Logical → physical column name of each field of ``meta``'s schema
    (stats and data files of a column-mapped table speak physical)."""
    return {
        f["name"]: (f.get("metadata") or {}).get(_CM_PHYS_KEY, f["name"])
        for f in json.loads(meta["schemaString"])["fields"]
    }


def _physical_schema(schema):
    """The schema as the DATA FILES store it: logical field names
    replaced by their recorded physicalName (types unchanged)."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [
            StructField(_physical_name(f), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _refuse_mapping(meta: dict | None, op: str) -> None:
    """Column mapping is supported on the read/append/overwrite/stats
    paths; the rewrite-shaped operations refuse loudly instead of
    guessing at physical-name plumbing they were not built for."""
    if _mapping_on(meta):
        raise ValueError(
            f"{op} does not support column-mapped tables (mode=name); "
            "read/append/overwrite/rename/drop are the supported surface"
        )


def _append_only(meta: dict | None) -> bool:
    conf = (meta or {}).get("configuration") or {}
    return str(conf.get("delta.appendOnly", "")).lower() == "true"


def _refuse_append_only(meta: dict | None, op: str) -> None:
    """``delta.appendOnly=true`` blocks commits that destroy visible
    rows (the protocol rule: no dataChange-true removals — overwrite,
    DV delete, MERGE's in-place replacement, RESTORE). Layout-only
    rewrites (OPTIMIZE/ZORDER/PURGE, dataChange:false) stay legal, as
    in real Delta."""
    if _append_only(meta):
        raise ValueError(
            f"{op} is not allowed: table has delta.appendOnly=true "
            "(unset it with set_append_only(table, False) first)"
        )


def _alter(table: str, operation: str, parameters: dict, change, needs=None) -> int:
    """The body of every metadata-only ALTER verb: claim the version,
    read the metaData, let ``change`` validate it and return the new
    one, add the protocol upgrade to ``needs`` = (reader, writer) when
    the table is below it, and commit. Returns the commit version."""
    version = _next_version(table)  # claim BEFORE the metadata read (TOCTOU rule)
    actions: list[dict] = [{"metaData": change(_require_metadata(table))}]
    if needs is not None:
        proto = _table_protocol(table)
        bumped = {
            **proto,
            "minReaderVersion": max(proto.get("minReaderVersion", 1), needs[0]),
            "minWriterVersion": max(proto.get("minWriterVersion", 2), needs[1]),
        }
        if bumped != proto:
            actions.insert(0, {"protocol": bumped})
    return _commit_op(table, version, actions, operation, parameters)


def set_append_only(table: str, enabled: bool = True) -> int:
    """ALTER TABLE SET TBLPROPERTIES ('delta.appendOnly' = ...): the
    ingest-ledger guard rail — with it set, appends are the ONLY
    commits that may touch visible rows, so an audit table cannot be
    silently rewritten. Returns the commit version."""
    value = "true" if enabled else "false"

    def change(meta: dict) -> dict:
        conf = {**(meta.get("configuration") or {}), "delta.appendOnly": value}
        return {**meta, "configuration": conf}

    return _alter(
        table, "SET TBLPROPERTIES", {"properties": {"delta.appendOnly": value}}, change
    )


def enable_column_mapping(table: str) -> int:
    """Upgrade the table to column mapping mode 'name' (the protocol's
    rename/drop-without-rewrite feature): every schema field gets a
    stable ``physicalName`` — for an upgraded table, its CURRENT name,
    so every existing data file remains readable — plus a column id.
    From then on data files are written under physical names and the
    logical schema is free to rename or drop without touching a byte.
    Partitioned tables are refused (hive-path derivation speaks
    physical names — out of scope)."""
    def change(meta: dict) -> dict:
        if _mapping_on(meta):
            raise ValueError(f"column mapping already enabled on {table}")
        if meta.get("partitionColumns"):
            raise ValueError(
                "column mapping on partitioned tables is not supported"
            )
        gen = _generated_columns(meta)
        if gen:
            raise ValueError(
                f"column mapping on a table with generated column(s) "
                f"{sorted(gen)} is not supported: a later rename would unbind "
                "their expressions"
            )
        schema = json.loads(meta["schemaString"])
        for i, f in enumerate(schema["fields"], start=1):
            f["metadata"] = {**(f.get("metadata") or {}), _CM_ID_KEY: i, _CM_PHYS_KEY: f["name"]}
        conf = {
            **(meta.get("configuration") or {}),
            _CM_MODE_KEY: "name",
            "delta.columnMapping.maxColumnId": str(len(schema["fields"])),
        }
        return {**meta, "schemaString": json.dumps(schema), "configuration": conf}

    # spec: columnMapping needs protocol (2, 5)
    return _alter(table, "UPGRADE COLUMN MAPPING", {"mode": "name"}, change, needs=(2, 5))


def _unreferenced_field(meta: dict, table: str, column: str, verb: str, op: str) -> dict:
    """The parsed schema of a column-mapped table, after checking that
    ``column`` exists and that no CHECK constraint or generated column
    references it — renaming or dropping it would silently unbind them
    (generated hits are tagged ``generated:``)."""
    import re

    if not _mapping_on(meta):
        raise ValueError(
            f"{op} needs column mapping: run "
            f"enable_column_mapping({table!r}) first"
        )
    pat = re.compile(rf"\b{re.escape(column)}\b")
    refs = sorted(n for n, e in _table_constraints(meta).items() if pat.search(e))
    refs += sorted(f"generated:{n}" for n, e in _generated_columns(meta).items() if pat.search(e))
    if refs:
        raise ValueError(
            f"cannot {verb} {column!r}: CHECK constraint(s) {refs} reference it"
        )
    schema = json.loads(meta["schemaString"])
    if column not in [f["name"] for f in schema["fields"]]:
        raise ValueError(f"no column {column!r} on {table}")
    return schema


def rename_column(table: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — a metaData-only commit (zero
    bytes rewritten): the logical name changes, the recorded
    physicalName keeps pointing at the same parquet column. Requires
    column mapping; refuses when a CHECK constraint references the old
    name (its expression would silently stop binding)."""
    def change(meta: dict) -> dict:
        schema = _unreferenced_field(meta, table, old, "rename", "rename_column")
        if new in [f["name"] for f in schema["fields"]]:
            raise ValueError(f"column {new!r} already exists on {table}")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        return {**meta, "schemaString": json.dumps(schema)}

    return _alter(table, "RENAME COLUMN", {"from": old, "to": new}, change)


def drop_column(table: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metaData-only (the data files keep
    the bytes; readers under the new schema simply never select the
    physical column, and time travel below the drop still sees it).
    Requires column mapping; refuses constraint-referenced columns and
    dropping the last column."""
    def change(meta: dict) -> dict:
        schema = _unreferenced_field(meta, table, name, "drop", "drop_column")
        if len(schema["fields"]) == 1:
            raise ValueError("cannot drop the last column")
        schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
        return {**meta, "schemaString": json.dumps(schema)}

    return _alter(table, "DROP COLUMN", {"name": name}, change)


def _translate_stats_filter(meta: dict | None, stats_filter):
    """Column-mapped tables key their add-action stats by PHYSICAL
    name; callers speak logical — translate predicate columns so data
    skipping keeps working after a rename (identity when unmapped)."""
    if not stats_filter or not _mapping_on(meta):
        return stats_filter
    phys_of = _physical_names(meta)
    return [(phys_of.get(c, c), op, v) for c, op, v in stats_filter]


_GEN_KEY = "delta.generationExpression"


def _generated_columns(meta: dict | None) -> dict[str, str]:
    """Generated columns recorded as per-field ``delta.
    generationExpression`` metadata (the protocol's writer-enforced
    derived columns)."""
    if not meta:
        return {}
    schema = json.loads(meta["schemaString"])
    return {
        f["name"]: (f.get("metadata") or {})[_GEN_KEY]
        for f in schema.get("fields", [])
        if _GEN_KEY in (f.get("metadata") or {})
    }


def set_generated_column(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """Declare an EXISTING column as generated from ``expr`` (the
    protocol's generated-columns feature, writer version 4): from this
    commit on, every write either omits the column — the writer
    computes it — or provides values the writer VERIFIES equal the
    expression (a mismatch raises; a silently divergent derived column
    is a lie every downstream consumer inherits). Current rows are
    validated first, like :func:`add_constraint`. The expression may
    reference any non-generated column of the row."""
    import re

    from pyspark.sql import functions as F

    def change(meta: dict) -> dict:
        _refuse_mapping(meta, "set_generated_column")
        schema = json.loads(meta["schemaString"])
        field = next((f for f in schema["fields"] if f["name"] == name), None)
        if field is None:
            raise ValueError(f"no column {name!r} on {table}")
        if _GEN_KEY in (field.get("metadata") or {}):
            raise ValueError(f"column {name!r} is already generated")
        for ref in [name, *_generated_columns(meta)]:
            if re.search(rf"\b{re.escape(ref)}\b", expr):
                raise ValueError(
                    f"generation expression for {name!r} references {ref!r}: "
                    "expressions may only use plain (non-generated, non-self) "
                    "columns — chained or self-referencing generation breaks "
                    "writes that omit the columns"
                )
        existing = read_delta(spark, table)
        n_bad = existing.where(
            F.expr(f"({expr}) IS DISTINCT FROM {name}")
        ).count()
        if n_bad:
            raise ValueError(
                f"cannot declare {name!r} generated from ({expr}): {n_bad} "
                "existing row(s) diverge from the expression"
            )
        field["metadata"] = {**(field.get("metadata") or {}), _GEN_KEY: expr}
        return {**meta, "schemaString": json.dumps(schema)}

    # spec: generated columns need writer version 4
    return _alter(
        table, "SET GENERATED COLUMN", {"name": name, "expr": expr}, change, needs=(1, 4)
    )


def _apply_generated_columns(df: DataFrame, meta: dict | None) -> DataFrame:
    """Writer-side generated-column contract: absent columns are
    COMPUTED from their expressions; present ones are VERIFIED equal
    (null-safe) — one OR-combined limit(1) scan, per-column counts only
    on the failure path."""
    from pyspark.sql import functions as F

    gen = _generated_columns(meta)
    if not gen:
        return df
    checks = []
    computed = False
    for name, expr in gen.items():
        if name not in df.columns:
            df = df.withColumn(name, F.expr(expr))
            computed = True
        else:
            checks.append((name, expr))
    if computed:
        # withColumn APPENDS: re-select into the recorded field order, or
        # the order-sensitive schema check spuriously rejects any write
        # whose omitted generated column is not the trailing field
        recorded = [
            f["name"] for f in json.loads(meta["schemaString"])["fields"]
        ]
        if sorted(df.columns) == sorted(recorded):
            df = df.select(*recorded)
    if checks:
        clause = " OR ".join(
            f"(({expr}) IS DISTINCT FROM {name})" for name, expr in checks
        )
        if df.where(F.expr(clause)).limit(1).count():
            detail = {
                name: df.where(
                    F.expr(f"({expr}) IS DISTINCT FROM {name}")
                ).count()
                for name, expr in checks
            }
            bad = {n: c for n, c in detail.items() if c}
            raise ValueError(
                f"write diverges from generated column(s) {bad}: "
                + "; ".join(
                    f"{n} := {dict(checks)[n]}" for n in bad
                )
            )
    return df


def _table_constraints(meta: dict | None) -> dict[str, str]:
    """CHECK constraints recorded in the metaData configuration under
    the protocol's ``delta.constraints.<name>`` keys."""
    if not meta:
        return {}
    prefix = "delta.constraints."
    return {
        k[len(prefix):]: v
        for k, v in (meta.get("configuration") or {}).items()
        if k.startswith(prefix)
    }


def _check_constraints(df: DataFrame, meta: dict | None) -> None:
    """Refuse a write whose rows violate any recorded CHECK constraint —
    ONE combined violation scan (all constraints OR'd, limit 1), then a
    per-constraint count only on the failure path for a useful error.
    NULL evaluation follows SQL CHECK semantics: a row violates only
    when the expression is definitively FALSE (UNKNOWN passes)."""
    from pyspark.sql import functions as F

    constraints = _table_constraints(meta)
    if not constraints:
        return
    clauses = [f"NOT coalesce(({expr}), true)" for expr in constraints.values()]
    if df.where(F.expr(" OR ".join(clauses))).limit(1).count():
        detail = {
            name: df.where(F.expr(f"NOT coalesce(({expr}), true)")).count()
            for name, expr in sorted(constraints.items())
        }
        bad = {n: c for n, c in detail.items() if c}
        raise ValueError(
            f"write violates CHECK constraint(s) {bad}: "
            + "; ".join(f"{n}: CHECK ({constraints[n]})" for n in bad)
        )


def add_constraint(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): records the
    constraint in the metaData configuration (the protocol's
    ``delta.constraints.`` namespace) AFTER verifying every CURRENTLY
    LIVE row satisfies it — adding a constraint existing data violates
    would make the table lie about itself. Later writes (append,
    overwrite, MERGE's appended rows) are refused if any row fails the
    check; deletes and rewrites of already-valid rows are unaffected.
    Returns the commit version.

    Scale shape: validation is one pushdown-friendly scan with
    limit(1) short-circuit; enforcement on writes costs one extra
    filter pass over the WRITE's rows only, never the table."""
    from pyspark.sql import functions as F

    def change(meta: dict) -> dict:
        if name in _table_constraints(meta):
            raise ValueError(f"constraint {name!r} already exists on {table}")
        existing = read_delta(spark, table)
        n_bad = existing.where(F.expr(f"NOT coalesce(({expr}), true)")).count()
        if n_bad:
            raise ValueError(
                f"cannot add constraint {name!r} to {table}: {n_bad} existing "
                f"row(s) violate CHECK ({expr})"
            )
        conf = {**(meta.get("configuration") or {}), f"delta.constraints.{name}": expr}
        return {**meta, "configuration": conf}

    # spec: CHECK constraints need writer version 3
    return _alter(
        table, "ADD CONSTRAINT", {"name": name, "expr": expr}, change, needs=(1, 3)
    )


def drop_constraint(table: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: removes the recorded check (a
    metaData-only commit). Unknown names raise — silently 'dropping'
    a typo would leave the real constraint enforced."""
    def change(meta: dict) -> dict:
        conf = dict(meta.get("configuration") or {})
        if conf.pop(f"delta.constraints.{name}", None) is None:
            raise ValueError(f"no constraint {name!r} on {table}")
        return {**meta, "configuration": conf}

    return _alter(table, "DROP CONSTRAINT", {"name": name}, change)


def clone_delta(src: str, dst: str, version: int | None = None) -> dict:
    """SHALLOW CLONE — a zero-copy writable fork of ``src``'s snapshot
    (optionally as-of ``version``): ``dst`` gets a fresh version-0 log
    whose add actions point at the SOURCE's data files by absolute
    path; no bytes move. Writes to the clone are copy-on-write — new
    commits, OPTIMIZE rewrites, DV sidecars, and purges all land under
    the clone's own root (source files are only ever dereferenced,
    never touched), and the clone's vacuum reaps only clone-local
    files. This is the dev/test-table primitive: fork a petabyte table
    in O(|files|) metadata, experiment destructively, drop the dir.

    Same caveat as real Delta shallow clones: VACUUM ON THE SOURCE can
    delete files the clone still references — clones are working
    copies, not backups. Stats, and deletion-vector references travel
    verbatim (sidecar paths are absolutized too, so a clone of a DV'd
    snapshot reads through the same vectors). Partitioned sources are
    refused: the reader derives hive partition values under the
    TABLE's basePath, which cloned absolute paths live outside of
    (DEEP clone / path-rewrite is the out-of-scope fix)."""
    meta = _require_metadata(src, version)
    _refuse_mapping(meta, "clone_delta")
    if meta.get("partitionColumns"):
        raise ValueError(
            f"shallow clone of partitioned table {src} is not supported: "
            "hive partition derivation needs files under the clone's "
            "basePath — use a deep copy"
        )
    if os.path.exists(dst) and (
        os.path.isdir(_log_path(dst)) or os.listdir(dst)
    ):
        raise ValueError(f"clone destination {dst} already exists")
    live = _replay(src, version)
    src_root = os.path.abspath(src)
    actions: list[dict] = [
        # the clone's metaData may demand constraint/generated/mapping
        # enforcement: carry the source's protocol, not the base (1, 2)
        {"protocol": _table_protocol(src, version)},
        {
            "metaData": {
                **meta,
                "id": uuid.uuid4().hex,  # a clone is a NEW table
            }
        },
    ]
    n_files = 0
    for p, a in sorted(live.items()):
        entry = dict(a)
        entry["path"] = p if os.path.isabs(p) else os.path.join(src_root, p)
        dv = entry.get("deletionVector")
        if dv and not os.path.isabs(dv["path"]):
            entry["deletionVector"] = {
                **dv,
                "path": os.path.join(src_root, dv["path"]),
            }
        actions.append({"add": entry})
        n_files += 1
    os.makedirs(dst, exist_ok=True)
    _commit_op(
        dst, 0, actions, "CLONE",
        {
            "source": src_root,
            "sourceVersion": _latest_version(src) if version is None else version,
            "isShallow": True,
        },
    )
    return {"version": 0, "files": n_files}


def vacuum_delta(table: str, retention_seconds: float = 24 * 3600) -> list[str]:
    """Remove files the log does not reference — crashed pre-commit
    stagings (data part files, ``.stage-*`` dirs) and leaked
    ``.tmp-*.json`` commit stagings in ``_delta_log``. Returns the
    reaped relative paths.

    ``retention_seconds`` guards the inherent race with an IN-FLIGHT
    writer (whose staged data files are log-unreferenced until its
    commit lands): only files older than the retention are reaped —
    the same reason real Delta's VACUUM has a retention period and
    warns on retention 0. Refuses to run on a non-contiguous log: with
    versions missing, every file the lost versions added would look
    unreferenced, and vacuuming would turn a recoverable log problem
    into permanent data loss."""
    import glob
    import shutil
    import time

    _check_contiguous(table, _list_versions(table))
    cutoff = time.time() - retention_seconds
    cp = _last_checkpoint(table)
    # cleaned-prefix history survives via the checkpoint
    adds = [] if cp is None else _read_checkpoint(table, cp)[2]
    adds += [a["add"] for v in _list_versions(table) for a in _actions(table, v) if "add" in a]
    live = {a["path"] for a in adds}
    # a sidecar stays reachable for time travel
    live.update(a["deletionVector"]["path"] for a in adds if a.get("deletionVector"))
    reaped = []
    for f in glob.glob(os.path.join(table, "**", "part-*.parquet"), recursive=True):
        rel = os.path.relpath(f, table).replace(os.sep, "/")
        if rel not in live and os.path.getmtime(f) < cutoff:
            os.remove(f)
            reaped.append(rel)
    for f in glob.glob(os.path.join(table, "deletion-vector-*.parquet")):
        rel = os.path.basename(f)
        if rel not in live and os.path.getmtime(f) < cutoff:
            os.remove(f)
            reaped.append(rel)
    for f in glob.glob(os.path.join(_log_path(table), ".tmp-*.json")):
        if os.path.getmtime(f) < cutoff:
            os.remove(f)
            reaped.append(os.path.join(_LOG_DIR, os.path.basename(f)))
    for d in glob.glob(os.path.join(table, ".stage-*")):
        if os.path.getmtime(d) < cutoff:
            shutil.rmtree(d, ignore_errors=True)
            reaped.append(os.path.basename(d))
    return sorted(reaped)


def optimize_delta(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Delta's OPTIMIZE (bin-packing compaction): within each
    partition, pack live files smaller than ``target_bytes`` into bins
    of up to ``target_bytes``, rewrite each ≥2-file bin as ONE file,
    and commit the swap as remove+add actions with
    ``dataChange: false`` — the snapshot's rows are untouched (real
    Delta's semantics: incremental/streaming readers skip
    no-data-change commits instead of re-processing rewritten rows).
    Returns ``{"version": v | None, "removed": n, "added": m}``; a
    table with nothing to compact commits NOTHING (version ``None``,
    no empty commit polluting history).

    Scale shape: planning is pure log metadata (O(live files) driver-
    side — the same order every snapshot replay already pays); ONE job
    rewrites every bin, each by one task that scans and writes only
    that bin's bytes, so bins run in parallel across partitions; the
    swap is one atomic commit. The small-file pathology this fixes is the
    reference's own backfill pattern — 9,504 hourly appends = 9,504
    tiny files (gha.ipynb:19-29) — OPTIMIZE keeps a scan's task count
    proportional to data volume, not commit history.

    Concurrency: claims the next version like any writer; on a lost
    race it raises with the staged files removed (the plan was computed
    against a stale snapshot — a remove-carrying commit must re-plan,
    never blind-retry; blind appends are the only commuting commits)."""
    meta = _require_metadata(table)
    _refuse_mapping(meta, "optimize_delta")
    version = _next_version(table)  # claim at plan time (TOCTOU rule)
    plan: list[list[tuple[str, dict]]] = []  # bins, each within one partition
    for files in _partition_groups(_replay(table)):
        # DV-carrying files are skipped: compacting one from its raw
        # bytes would resurrect deleted rows — materialize_deletes is
        # the rewrite that applies the DV first
        small = [
            (p, a)
            for p, a in files
            if a.get("size", 0) < target_bytes and "deletionVector" not in a
        ]
        bins: list[list[tuple[str, dict]]] = []
        cur: list[tuple[str, dict]] = []
        cur_bytes = 0
        for p, a in small:  # deterministic first-fit in path order
            if cur and cur_bytes + a.get("size", 0) > target_bytes:
                bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append((p, a))
            cur_bytes += a.get("size", 0)
        if cur:
            bins.append(cur)
        plan.extend(b for b in bins if len(b) >= 2)  # 1-file bins are optimal
    if not plan:
        return {"version": None, "removed": 0, "added": 0}
    adds = _rewrite_bins(spark, table, meta, plan)
    removes = [p for b in plan for p, _ in b]
    _commit_rewrite(table, version, removes, adds, "OPTIMIZE", {"targetSize": target_bytes})
    return {"version": version, "removed": len(removes), "added": len(adds)}


def _partition_groups(live: dict[str, dict]) -> list[list[tuple[str, dict]]]:
    """Live (path, add) entries grouped by partition, in partition and
    path order."""
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for path, add in sorted(live.items(), key=lambda e: e[0]):
        key = tuple(sorted((add.get("partitionValues") or {}).items()))
        groups.setdefault(key, []).append((path, add))
    return [groups[k] for k in sorted(groups)]


def _rewrite_bins(spark, table: str, meta: dict, bins) -> list[dict]:
    """ONE Spark job rewrites every bin (a list of (path, add) entries
    of one partition) as one file, read through the entries' deletion
    vectors (:func:`_scan`): rows are tagged with their input file's
    bin and hash-clustered by it, so exactly one task writes each bin
    into its own stage dir, and each task scans and writes only its
    bin's bytes. Returns the rewrites' add actions (``dataChange:
    false``, the inputs' partitionValues and stats columns carried
    forward, each file in its inputs' dir); a bin whose every row was
    deleted writes nothing and has none. The file → bin map arrives as
    one JSON parameter the optimizer folds, so building it runs no
    Spark job: 0.3 s less per call than a frame parallelized from the list
    (8-bin table, sf0.1, 4 cores)."""
    from pyspark.sql import functions as F

    bin_of = spark.sql(
        "SELECT inline(from_json(?, 'array<struct<"
        "__delta_dv_file: string, __delta_opt_bin: int>>'))",
        args=[
            json.dumps(
                [
                    {"__delta_dv_file": os.path.basename(p), "__delta_opt_bin": i}
                    for i, b in enumerate(bins)
                    for p, _ in b
                ]
            )
        ],
    )
    rows = _scan(spark, table, meta, [e for b in bins for e in b], rowmeta=True)
    with _stage_dir(table) as stage:
        (
            rows.drop(*meta.get("partitionColumns", []), "__delta_dv_pos")
            .join(F.broadcast(bin_of), "__delta_dv_file")
            .drop("__delta_dv_file")
            .repartition(len(bins), "__delta_opt_bin")
            .write.partitionBy("__delta_opt_bin")
            .mode("overwrite")
            .parquet(stage)
        )
        moved = _move_staged(
            table, stage, "__delta_opt_bin", {i: b[0][0] for i, b in enumerate(bins)}
        )
    adds = []
    for i, (rel, md) in moved.items():
        stats_cols = sorted(
            {c for _, a in bins[i] for c in json.loads(a.get("stats", "{}")).get("minValues", {})}
        )
        pvals = dict(bins[i][0][1].get("partitionValues") or {})
        adds.append(_add_action(table, rel, md, pvals, stats_cols, False))
    return adds


def _commit_rewrite(
    table: str, version: int, removed: list[str], adds: list[dict], operation, parameters
) -> int:
    """Commit a layout-only rewrite: ``dataChange: false`` removes of
    the inputs plus the rewrites' adds — the snapshot's rows are
    untouched, so incremental readers skip the commit."""
    actions = [_remove_action(p, False) for p in removed] + [{"add": a} for a in adds]
    return _commit_op(table, version, actions, operation, parameters, staged=adds)


def zorder_key(cols: tuple[str, ...], bits: int = 21):
    """Morton (Z-order) key: interleaves the low ``bits`` of each
    non-negative integer column into one long, so rows close in EVERY
    key dimension land close in the one-dimensional sort order.

    Pure bitwise column expression (whole-stage codegen; no UDF):
    bit b of column j becomes bit b*ncols+j of the key. ``bits`` * ncols
    must stay < 63; 21 bits × 2 cols resolves ~2M distinct values per
    dimension — coarser high bits still cluster correctly when a domain
    exceeds that (Z-order needs relative, not exact, locality).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    assert n * bits < 63, "interleaved key must fit a signed long"
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + j))
    return z


def zorder_delta(
    spark: SparkSession,
    table: str,
    zorder_by: tuple[str, ...],
    n_files: int,
    tiebreak: str,
    bits: int = 21,
) -> dict:
    """OPTIMIZE ZORDER BY on the Delta log: rewrite the live snapshot
    clustered by the Morton interleave of ``zorder_by`` (:func:`zorder_key`
    — pure bitwise codegen, no UDF) into exactly
    ``n_files`` rank-balanced files per partition, with add-action
    stats on the clustered columns. Each file then covers a small
    hyper-rectangle of the key space, so ``stats_filter`` scans prune
    on ANY clustered column — the access-path property a 100 TB table
    needs when one layout serves several predicates.

    File boundaries are EXACT rank splits (row_number over (zkey,
    ``tiebreak``) — the caller names a unique column), not
    repartitionByRange's sampled boundaries: same data in, same file
    contents and stats out, on every engine and every run. That
    determinism is what lets an external oracle recompute which files
    a box query must keep. The global rank sort is one exchange — the
    same price any clustering rewrite pays; at production scale a
    sampled ``repartitionByRange`` on the key would trade the
    determinism back for a balanced parallel sort.

    Commits remove+add with ``dataChange: false`` like OPTIMIZE (rows
    unchanged, incremental readers skip it). Returns
    ``{"version": v, "files": n}``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType
    from pyspark.sql.window import Window

    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    meta = _require_metadata(table)
    _refuse_mapping(meta, "zorder_delta")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = meta.get("partitionColumns", [])
    if set(zorder_by) & set(pcols):
        raise ValueError("cannot z-order by a partition column")
    data_schema = StructType([f for f in schema.fields if f.name not in pcols])

    version = _next_version(table)  # claim at plan time (TOCTOU rule)
    # the DV guard runs on the SAME post-claim replay the plan uses — a
    # guard on an earlier replay would miss a delete_delta_dv commit
    # landing in between, and the clustering would resurrect its rows
    live_adds = _replay(table)
    if any("deletionVector" in a for a in live_adds.values()):
        raise ValueError(
            f"zorder_delta on {table}: live files carry deletion vectors — "
            "clustering reads raw file bytes and would resurrect deleted "
            "rows; run materialize_deletes first"
        )
    removes: list[str] = []
    adds: list[dict] = []
    try:
        for files in _partition_groups(live_adds):
            paths = [p for p, _ in files]
            df = spark.read.schema(data_schema).parquet(
                *[os.path.join(table, p) for p in paths]
            )
            n_rows = df.count()
            if n_rows == 0:
                continue
            k = min(n_files, n_rows)
            rn = F.row_number().over(
                Window.orderBy(F.col("__zkey"), F.col(tiebreak))
            )
            clustered = (
                df.withColumn("__zkey", zorder_key(tuple(zorder_by), bits))
                .withColumn("__rn", rn)
                # exact integer split: file i gets ranks (i*n/k, (i+1)*n/k]
                .withColumn(
                    "__zfile",
                    F.expr(f"CAST(((__rn - 1) * {k}) DIV {n_rows} AS LONG)"),
                )
                .drop("__rn")
            )
            with _stage_dir(table) as stage:
                (
                    clustered.repartition(k, "__zfile")
                    .sortWithinPartitions("__zfile", "__zkey", tiebreak)
                    .drop("__zkey")
                    .write.partitionBy("__zfile")
                    .mode("overwrite")
                    .parquet(stage)
                )
                moved = _move_staged(table, stage, "__zfile", dict.fromkeys(range(k), paths[0]))
            pvals = dict(files[0][1].get("partitionValues") or {})
            adds.extend(
                _add_action(table, rel, md, pvals, tuple(zorder_by), False)
                for rel, md in moved.values()
            )
            removes.extend(paths)
    except Exception:
        _remove_staged(table, adds)
        raise
    if not adds:
        return {"version": None, "files": 0}
    _commit_rewrite(
        table, version, removes, adds, "OPTIMIZE",
        {"zOrderBy": list(zorder_by), "targetFiles": n_files},
    )
    return {"version": version, "files": len(adds)}


def delta_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change-feed read for append-only flows: the rows ADDED by
    data-changing commits in ``(from_version, to_version]``, each
    tagged with a ``_commit_version`` column — the incremental-
    consumption primitive under the reference's hourly-ingest pattern
    (process only what arrived since the last run, identified by the
    log, never by file listing or timestamps).

    ``dataChange: false`` commits (OPTIMIZE) are SKIPPED entirely:
    their adds are rewrites of rows a consumer already processed —
    re-delivering them is the classic compaction double-count bug.
    A data-changing REMOVE inside the range (overwrite, delete,
    merge) raises: this minimal feed serves append-only tables;
    reconstructing row-level deletes needs the full CDF protocol
    (change-data files), which is out of scope — and silently
    returning just the adds of an overwrite would misrepresent it as
    an append. A range reaching below the retained JSON (cleaned
    prefix) also raises — the feed never guesses what a vanished
    commit did.

    Scale shape: the plan is a driver-side walk of just the range's
    JSON files (O(commits in range), each O(its own actions)); the
    data read is exactly the new files — incremental cost is
    proportional to new data, never to table size. Schema is the
    metaData as of ``to_version`` (pre-evolution files widen with
    nulls, same as any snapshot read)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    latest = _latest_version(table)
    if to_version is None:
        to_version = latest
    if not 0 <= from_version <= to_version <= latest:
        raise ValueError(
            f"invalid change range ({from_version}, {to_version}] for "
            f"{table} at version {latest}"
        )
    # a gapped log means lost commits: the schema lookup below could
    # silently resolve past a vanished evolution commit, so refuse the
    # whole table, not just ranges that touch the gap
    _check_contiguous(table, _list_versions(table))
    retained = set(_list_versions(table))
    per_version: list[tuple[int, list[str]]] = []
    for v in range(from_version + 1, to_version + 1):
        if v not in retained:
            raise ValueError(
                f"change feed of {table} needs version {v}, but its JSON "
                "was cleaned up — the feed never guesses what a vanished "
                "commit did"
            )
        files: list[str] = []
        for action in _actions(table, v):
            if "add" in action and action["add"].get("dataChange", True):
                files.append(action["add"]["path"])
            elif "remove" in action and action["remove"].get("dataChange", True):
                raise ValueError(
                    f"version {v} of {table} removes data (overwrite/"
                    "delete): this append-only change feed cannot "
                    "represent it — full CDF is out of scope"
                )
            elif action.get("commitInfo", {}).get("operation") == "RESTORE":
                # a restore that only re-adds (e.g. reverting a DV
                # delete) carries no remove action, but its adds are
                # files whose rows consumers already processed —
                # delivering them again is the same double-count the
                # remove rule guards against
                raise ValueError(
                    f"version {v} of {table} is a RESTORE: its adds "
                    "re-deliver previously-consumed rows, which this "
                    "append-only change feed cannot represent"
                )
        if files:
            per_version.append((v, files))
    meta = _require_metadata(table, to_version)
    _refuse_mapping(meta, "delta_changes")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    pcols = meta.get("partitionColumns", [])
    out = None
    for v, files in per_version:
        reader = spark.read.schema(schema)
        if pcols:
            reader = reader.option("basePath", table)
        part = (
            reader.parquet(*[os.path.join(table, f) for f in files])
            .select(*[f.name for f in schema.fields])
            .withColumn("_commit_version", F.lit(v).cast("long"))
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return local_frame(
            spark, [], schema.add("_commit_version", "long")
        )
    return out


def high_water_mark(table: str, col: str, version: int | None = None):
    """max(col) over the live snapshot answered from add-action STATS
    alone — zero data files opened (the reference's get_add_actions
    trick, preprocess.py:181-186). Returns None when any live file
    lacks stats for the column, OR carries a deletion vector — DV'd
    stats are LOOSE bounds (the max row may be among the deleted), and
    reporting a watermark that no longer exists is exactly the silent
    wrongness this helper refuses (falling back to a scan is the
    caller's choice)."""
    meta = _table_metadata(table, version)
    if _mapping_on(meta):  # stats are keyed by PHYSICAL name
        phys_of = _physical_names(meta)
        if col not in phys_of:
            raise ValueError(f"no column {col!r} on {table}")
        col = phys_of[col]
    maxes = []
    for add in _replay(table, version).values():
        stats = json.loads(add["stats"]) if "stats" in add else None
        if not stats or col not in stats.get("maxValues", {}):
            return None
        if "deletionVector" in add:
            return None
        maxes.append(stats["maxValues"][col])
    return max(maxes) if maxes else None


def history(table: str, allow_truncated: bool = False) -> list[dict]:
    """DESCRIBE HISTORY analog: one row per commit (version, operation,
    file add/remove counts).

    After :func:`cleanup_log` the JSON prefix is gone, so the full
    history no longer exists; returning just the tail as if it were
    everything would be a silently wrong audit (the module's
    time-travel path raises in the same situation). Default: raise.
    ``allow_truncated=True`` opts into the tail, which then carries a
    ``truncated_below`` marker on its first row."""
    versions = _list_versions(table)
    _check_contiguous(table, versions)
    cp = _last_checkpoint(table)
    if versions and versions[0] > 0:
        truncated_below = versions[0]
    elif not versions and cp is not None:
        # checkpoint-at-latest + cleanup leaves NO JSON at all: the
        # whole history is gone, not "no commits ever happened"
        truncated_below = cp["version"] + 1
    else:
        truncated_below = None
    if truncated_below is not None and not allow_truncated:
        raise ValueError(
            f"history of {table} is truncated below version "
            f"{truncated_below} (log cleanup removed the prefix); pass "
            "allow_truncated=True for the retained tail"
        )
    out = []
    for v in versions:
        actions = _actions(table, v)
        row = {
            "version": v,
            "operation": next(
                (a["commitInfo"].get("operation") for a in actions if "commitInfo" in a),
                None,
            ),
            "adds": sum("add" in a for a in actions),
            "removes": sum("remove" in a for a in actions),
        }
        if v == versions[0] and truncated_below is not None:
            row["truncated_below"] = truncated_below
        out.append(row)
    if not out and truncated_below is not None:
        # fully-cleaned log (checkpoint at latest): an empty list would
        # be indistinguishable from "no commits ever" — emit a marker-
        # only row so the opted-in caller still sees the truncation
        out.append(
            {
                "version": None,
                "operation": None,
                "adds": 0,
                "removes": 0,
                "truncated_below": truncated_below,
            }
        )
    return out


# --- checkpoints ---------------------------------------------------------


def _checkpoint_file(table: str, version: int) -> str:
    return os.path.join(_log_path(table), f"{version:020d}.checkpoint.parquet")


def _last_checkpoint_path(table: str) -> str:
    return os.path.join(_log_path(table), "_last_checkpoint")


def _last_checkpoint(table: str) -> dict | None:
    """Parse ``_delta_log/_last_checkpoint`` → {"version": int} or None.
    A pointer to a missing/corrupt checkpoint file raises: cleanup may
    already have relied on it, so ignoring it could silently replay a
    truncated log."""
    try:
        with open(_last_checkpoint_path(table)) as fh:
            meta = json.load(fh)
        version = int(meta["version"])
    except FileNotFoundError:
        return None
    except (OSError, ValueError, KeyError, json.JSONDecodeError) as exc:
        raise ValueError(f"corrupt _last_checkpoint in {table}: {exc}") from exc
    if not os.path.isfile(_checkpoint_file(table, version)):
        raise ValueError(
            f"_last_checkpoint of {table} names version {version} but "
            f"{_checkpoint_file(table, version)} is missing"
        )
    return {"version": version}


def _checkpoint_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("path", pa.string()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )


def checkpoint_delta(table: str, version: int | None = None) -> int:
    """Write a spec-shaped parquet checkpoint of the snapshot at
    ``version`` (default latest) — one row per live action, nested
    protocol/metaData/add columns — then atomically repoint
    ``_last_checkpoint``. Replay afterwards starts from the checkpoint
    and applies only the JSON tail; :func:`cleanup_log` may then drop
    the JSON prefix. Returns the checkpointed version.

    Tombstones (unexpired ``remove`` actions) are not carried — this
    writer's overwrites leave the removed files on disk for
    :func:`vacuum_delta`'s retention reaper, which does not consult
    tombstones, so dropping them loses nothing here (documented
    module-level)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    version = _latest_version(table) if version is None else version
    # _last_checkpoint must be monotone (real Delta keeps it
    # increasing): checkpointing at-or-below the pointer must not
    # repoint replay-of-latest back to a longer JSON tail, nor let a
    # later cleanup_log keep a prefix the newer checkpoint had already
    # made droppable. Nothing in this module ever reads a checkpoint
    # the pointer doesn't name, so the whole write is skipped — and
    # skipped BEFORE the O(live files) replay, not after it.
    existing = _last_checkpoint(table)
    if existing is not None and version <= existing["version"]:
        return version
    live = _replay(table, version)  # raises on gaps / cleaned prefixes
    meta = _require_metadata(table, version)  # schema AS OF the checkpoint
    proto_row = _table_protocol(table, version)
    meta_row = {
        "id": meta["id"],
        "format": {"provider": meta.get("format", {}).get("provider", "parquet")},
        "schemaString": meta["schemaString"],
        "partitionColumns": meta.get("partitionColumns", []),
        # constraints and column mapping live here: a checkpoint that
        # dropped configuration would silently disable both (r7 review)
        "configuration": list((meta.get("configuration") or {}).items()),
        "createdTime": meta.get("createdTime", 0),
    }
    add_rows = [
        {
            "path": a["path"],
            "partitionValues": list(a.get("partitionValues", {}).items()),
            "size": a["size"],
            "modificationTime": a.get("modificationTime", 0),
            "dataChange": False,
            "stats": a.get("stats"),
            "deletionVector": a.get("deletionVector"),
        }
        for _, a in sorted(live.items())
    ]
    n = len(add_rows) + 2
    table_arrow = pa.Table.from_pydict(
        {
            "protocol": [proto_row] + [None] * (n - 1),
            "metaData": [None, meta_row] + [None] * (n - 2),
            "add": [None, None] + add_rows,
        },
        schema=_checkpoint_schema(),
    )
    dest = _checkpoint_file(table, version)
    tmp = dest + f".tmp-{uuid.uuid4().hex}"
    try:
        pq.write_table(table_arrow, tmp)
        os.replace(tmp, dest)  # atomic publish
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    ptr_tmp = _last_checkpoint_path(table) + f".tmp-{uuid.uuid4().hex}"
    with open(ptr_tmp, "w") as fh:
        json.dump({"version": version, "size": n}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(ptr_tmp, _last_checkpoint_path(table))
    return version


def _read_checkpoint(table: str, cp: dict) -> tuple[dict | None, dict | None, list[dict]]:
    """Checkpoint parquet → (metaData, protocol, add actions) with
    partitionValues back as dicts and absent stats dropped (so a
    checkpoint-sourced add action is indistinguishable from a
    JSON-sourced one downstream).

    The parse is memoized: one read_delta on a cleaned log otherwise
    parses the same checkpoint three times (schema → partition columns
    → replay). The cache key includes the file's (mtime_ns, size)
    identity, not just the path — a scratch table torn down and
    recreated at the same path with the same version number must never
    be served the old table's parse. Callers get fresh dict copies —
    the cached canonical rows must never alias anything a caller might
    mutate."""
    path = _checkpoint_file(table, cp["version"])
    st = os.stat(path)
    meta, proto, adds = _read_checkpoint_cached(path, st.st_mtime_ns, st.st_size)
    copy_meta = (
        None
        if meta is None
        else {
            **meta,
            "partitionColumns": list(meta["partitionColumns"]),
            "configuration": dict(meta.get("configuration") or {}),
        }
    )
    copy_adds = [
        {
            **a,
            "partitionValues": dict(a["partitionValues"]),
            **(
                {"deletionVector": dict(a["deletionVector"])}
                if "deletionVector" in a
                else {}
            ),
        }
        for a in adds
    ]
    return copy_meta, (None if proto is None else dict(proto)), copy_adds


@functools.lru_cache(maxsize=8)
def _read_checkpoint_cached(
    path: str, mtime_ns: int, size: int
) -> tuple[dict | None, dict | None, list[dict]]:
    import pyarrow.parquet as pq

    rows = pq.read_table(path).to_pylist()
    meta = proto = None
    adds: list[dict] = []
    for r in rows:
        if r.get("protocol"):
            proto = r["protocol"]
        if r.get("metaData"):
            m = dict(r["metaData"])
            # old checkpoints (pre-configuration column) deserialize to
            # None; new ones carry the map as a list of (k, v) pairs
            m["configuration"] = dict(m.get("configuration") or {})
            adds_pc = m.get("partitionColumns")
            m["partitionColumns"] = list(adds_pc) if adds_pc else []
            meta = m
        if r.get("add"):
            a = dict(r["add"])
            a["partitionValues"] = dict(a.get("partitionValues") or [])
            a["dataChange"] = bool(a.get("dataChange"))
            if a.get("stats") is None:
                a.pop("stats", None)
            if a.get("deletionVector") is None:
                a.pop("deletionVector", None)
            adds.append(a)
    return meta, proto, adds


def cleanup_log(table: str) -> list[str]:
    """Delete version JSON files at-or-below the last checkpoint (the
    spec's log cleanup — safe because replay of any version ≥ the
    checkpoint no longer needs them). Time travel below the checkpoint
    becomes an explicit error afterwards. Returns removed file names."""
    cp = _last_checkpoint(table)
    if cp is None:
        raise ValueError(f"cleanup_log: no checkpoint in {table}")
    removed = []
    for v in _list_versions(table):
        if v <= cp["version"]:
            os.remove(_version_file(table, v))
            removed.append(f"{v:020d}.json")
    return removed
