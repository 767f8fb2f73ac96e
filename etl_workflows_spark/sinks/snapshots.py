"""Snapshot-versioned parquet tables: atomic commit, time travel, rollback,
idempotent retries — without a table-format dependency.

The reference hands durability to BigQuery (load_csv/main.py:158-169 —
WRITE_TRUNCATE jobs are atomic server-side) and its workflow retries lean
on that atomicity. Plain ``spark.write.parquet`` has no such contract: a
crashed overwrite leaves a half-written directory, and a retried append
duplicates rows. This module supplies the missing contract with the same
design Delta/Iceberg use, reduced to its core:

* **immutable data files** under ``<dir>/data/`` — a commit never rewrites
  or deletes a live file, it only adds files and publishes a new manifest;
* **manifest-per-version** under ``<dir>/_snapshots/v{n:08d}.json`` — the
  file list, schema, op, parent, and an optional ``commit_key``;
* **atomicity = one ``O_CREAT|O_EXCL`` create** of the next version file.
  Readers only ever see fully-published manifests; a loser of a commit
  race gets EEXIST and retries against the new latest. (On S3-class
  stores, swap the O_EXCL create for a conditional PUT — the protocol is
  unchanged.)

Scale posture: all driver-side work here is O(files-per-commit) metadata —
never O(rows). Data still moves through executor-parallel
``DataFrameWriter``; the driver renames finished part-files (a pure
metadata op on HDFS-class stores) and writes one small JSON.

Every write (commit, WAP stage, MERGE/DELETE rewrite) lands its files
through one helper, ``_land``: executor write → footer [min, max] stats →
per-file Bloom entries. Every next manifest comes from one rule,
``_next_manifest``: the files kept from a base manifest (the parent's
for append, none for overwrite, the survivors for MERGE/DELETE, the
source version's for rollback) with their stats and Blooms carried
forward, plus the landed files. Kept files are read under the new
schema, so the rule refuses any schema that drops or retypes one of the
base's columns.

Bloom entries use operators/bloom.py's md5-prefix positions: the build
runs its Spark expression, the planning-time probe its ``hashlib`` twin.
Each entry records its ``scheme``; an entry without one is never used to
skip a file.

``commit_key`` gives exactly-once sinks: a retried commit carrying the
same key is recognized and returns the already-published version — the
snapshot twin of sinks/writer.py ``append_if_absent`` and the natural
``foreachBatch(batch_id)`` target (streaming/incremental.py).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_workflows_spark.operators.bloom import _pos_expr, _pos_py
from etl_workflows_spark.operators.cache import SCRATCH_LEVEL

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"
_MAX_COMMIT_RETRIES = 20
_BLOOM_SCHEME = "md5"
_BLOOM_INT_TYPES = ("tinyint", "smallint", "int", "bigint")
_BLOOM_TYPES = (*_BLOOM_INT_TYPES, "string")


def _snap_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _SNAP_DIR, f"v{version:08d}.json")


def versions(table_dir: str) -> list[int]:
    """Published versions, ascending (empty list: not a snapshot table)."""
    d = os.path.join(table_dir, _SNAP_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


_MANIFEST_CACHE: dict[str, tuple] = {}
_MANIFEST_CACHE_MAX = 4096


def _load_manifest(table_dir: str, version: int) -> dict:
    """Manifests are immutable once published (vacuum only ever deletes
    them), so an in-process cache is always coherent — it turns the
    per-keyed-commit history scan (``_find_commit_key``) from repeated
    disk JSON parses into dict lookups. Bounded FIFO to stay small."""
    p = os.path.abspath(_snap_path(table_dir, version))
    st = os.stat(p)
    sig = (st.st_mtime_ns, st.st_size)  # one stat beats a JSON parse;
    # the signature also catches out-of-band edits (tests, manual ops)
    hit = _MANIFEST_CACHE.get(p)
    if hit is not None and hit[0] == sig:
        return hit[1]
    with open(p) as f:
        m = json.load(f)
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
    _MANIFEST_CACHE[p] = (sig, m)
    return m


def _latest(table_dir: str) -> int | None:
    vs = versions(table_dir)
    return vs[-1] if vs else None


def _head(table_dir: str) -> dict | None:
    v = _latest(table_dir)
    return _load_manifest(table_dir, v) if v is not None else None


def _write_data_files(df: DataFrame, table_dir: str) -> list[str]:
    """Executor-parallel write into a staging dir, then rename the part
    files under ``data/`` with a commit-unique prefix. Returns paths
    relative to ``table_dir``. Files are live only once a manifest names
    them — a crash here leaves unreferenced files for vacuum, never a
    corrupt table."""
    tag = uuid.uuid4().hex
    staging = os.path.join(table_dir, f"_staging_{tag}")
    df.write.mode("overwrite").option("compression", "zstd").parquet(staging)
    data_dir = os.path.join(table_dir, _DATA_DIR)
    os.makedirs(data_dir, exist_ok=True)
    rel_paths = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        dst = f"{tag}-{f}"
        os.rename(os.path.join(staging, f), os.path.join(data_dir, dst))
        rel_paths.append(f"{_DATA_DIR}/{dst}")
    shutil.rmtree(staging)
    return rel_paths


def _find_commit_key(table_dir: str, key: str) -> int | None:
    for v in reversed(versions(table_dir)):
        if _load_manifest(table_dir, v).get("commit_key") == key:
            return v
    return None


def _file_stats(
    table_dir: str, rel_paths: list[str], cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file [min, max] for ``cols`` from parquet FOOTERS (pyarrow,
    row-group statistics) — O(files) metadata reads, zero data rows.
    The Iceberg trick: persist these in the manifest at commit time so
    later MERGE/point-lookup pruning is a pure manifest read."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rel_paths:
        md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for c in cols:
            if c not in idx:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[c]).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            # manifests are JSON: only primitive-typed bounds are stored;
            # anything else (timestamps, bytes) just forgoes pruning
            if lo is not None and all(
                isinstance(x, (int, float, str, bool)) for x in (lo, hi)
            ):
                stats[c] = [lo, hi]
        out[rel] = stats
    return out


def _land(
    df: DataFrame,
    table_dir: str,
    stat_cols: list[str] | None,
    bloom_conf: dict[str, dict],
) -> tuple[list[str], dict, dict]:
    """The one way data files enter a table: executor write → footer
    stats for ``stat_cols`` → Bloom entries under ``bloom_conf``.
    Returns ``(files, stats, blooms)``, the shape ``_next_manifest``
    takes and ``_publish``'s callback returns."""
    files = _write_data_files(df, table_dir)
    stats = _file_stats(table_dir, files, stat_cols) if stat_cols else {}
    blooms = _build_blooms(df.sparkSession, table_dir, files, bloom_conf)
    return files, stats, blooms


def _check_schema_keeps(base_schema: str, schema_json: str) -> None:
    """The next manifest's schema is applied to EVERY file at read time,
    so while the base's files stay it may only ADD nullable columns — a
    renamed/retyped/dropped base column would silently null out or break
    old data."""
    if base_schema == schema_json:
        return
    base_fields = {
        f["name"]: f["type"] for f in json.loads(base_schema)["fields"]
    }
    new_fields = {
        f["name"]: f["type"] for f in json.loads(schema_json)["fields"]
    }
    for name, btype in base_fields.items():
        if name not in new_fields:
            raise ValueError(
                f"append drops column {name!r} — appends may only "
                "add columns (use mode='overwrite' to reshape)"
            )
        if new_fields[name] != btype:
            raise ValueError(
                f"append changes column {name!r} type "
                f"{btype!r} -> {new_fields[name]!r} — appends may "
                "only add columns (use mode='overwrite' to reshape)"
            )


def _next_manifest(
    base: dict | None, kept: list[str], landed: tuple, schema_json: str
) -> tuple[list[str], dict, dict]:
    """The one rule for a next manifest's ``(files, stats, blooms)``:
    the ``kept`` files of ``base`` — the parent's for append, none for
    overwrite, the survivors for MERGE/DELETE, the source version's for
    rollback — with their stats and Blooms carried forward, then the
    ``landed`` ones. Kept files are read under ``schema_json`` from now
    on, so it may only add columns to the base's schema."""
    files, stats, blooms = landed
    if not kept:
        return files, stats, blooms
    _check_schema_keeps(base["schema"], schema_json)
    keep = set(kept)
    stats = {r: s for r, s in base.get("stats", {}).items() if r in keep} | stats
    blooms = {r: b for r, b in base.get("blooms", {}).items() if r in keep} | blooms
    return kept + files, stats, blooms


def _publish(
    table_dir: str,
    op: str,
    schema_json: str,
    files_fn,
    commit_key: str | None = None,
) -> int:
    """Atomically publish a manifest; ``files_fn(parent_manifest|None)``
    returns its ``(files, stats, blooms)`` computed AGAINST THE CURRENT
    PARENT so a lost race recomputes on the winner's state instead of
    silently dropping it."""
    os.makedirs(os.path.join(table_dir, _SNAP_DIR), exist_ok=True)
    for _ in range(_MAX_COMMIT_RETRIES):
        parent = _latest(table_dir)
        if commit_key is not None:
            # the race we lost may have been our own key's earlier winner
            existing = _find_commit_key(table_dir, commit_key)
            if existing is not None:
                return existing
        parent_m = _load_manifest(table_dir, parent) if parent is not None else None
        files, stats, blooms = files_fn(parent_m)
        manifest = {
            "version": (parent + 1) if parent is not None else 1,
            "parent": parent,
            "op": op,
            "files": files,
            "stats": stats,
            "blooms": blooms,
            "schema": schema_json,
            "commit_key": commit_key,
            "created_at": time.time(),
        }
        try:
            fd = os.open(
                _snap_path(table_dir, manifest["version"]),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            continue  # lost the race — re-read latest and retry
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        return manifest["version"]
    raise RuntimeError(
        f"commit to {table_dir} lost {_MAX_COMMIT_RETRIES} races — aborting"
    )


def _publish_landed(
    table_dir: str,
    mode: str,
    op: str,
    schema_json: str,
    landed: tuple,
    commit_key: str | None,
) -> int:
    """Publish landed files onto whatever head the publish finds:
    ``mode='append'`` keeps the head's files, ``'overwrite'`` none."""

    def files_fn(parent_m):
        kept = parent_m["files"] if mode == "append" and parent_m else []
        return _next_manifest(parent_m, kept, landed, schema_json)

    return _publish(table_dir, op, schema_json, files_fn, commit_key)


def _build_blooms(
    spark: SparkSession,
    table_dir: str,
    rel_paths: list[str],
    conf: dict[str, dict],
) -> dict[str, dict[str, dict]]:
    """Per-file Bloom position sets for ``conf = {col: {m, k}}`` — built
    EXECUTOR-SIDE (one column-pruned scan of the new files per column,
    map-side collect_set of operators/bloom.py's md5-prefix positions of
    the value cast to string), so the driver only ever sees ≤ m small
    ints per (file, column). The manifest-level twin of parquet's
    row-group bloom filters: this one skips WHOLE FILES at planning
    time, before any scan is launched."""
    if not conf or not rel_paths:
        return {}
    from pyspark.sql import functions as F

    paths = {os.path.basename(p): p for p in rel_paths}
    df = spark.read.parquet(
        *[os.path.join(table_dir, p) for p in rel_paths]
    ).select(F.input_file_name().alias("__f"), *conf.keys())
    # the probe renders a literal the way cast-to-string renders these
    # types; any other type would not round-trip exactly
    for c, dtype in df.dtypes:
        if c != "__f" and dtype not in _BLOOM_TYPES:
            raise ValueError(
                f"bloom_cols supports integral/string columns; {c} is {dtype}"
            )
    out: dict[str, dict[str, dict]] = {p: {} for p in rel_paths}
    for col, mk in conf.items():
        m, k = int(mk["m"]), int(mk["k"])
        key = "cast(`{}` as string)".format(col.replace("`", "``"))
        positions = F.array(*[F.expr(_pos_expr(key, i, m)) for i in range(k)])
        rows = (
            df.select("__f", F.explode(positions).alias("p"))
            .groupBy("__f")
            .agg(F.sort_array(F.collect_set("p")).alias("bits"))
            .collect()
        )
        for r in rows:
            base = os.path.basename(r["__f"])
            if base in paths:
                out[paths[base]][col] = {
                    "scheme": _BLOOM_SCHEME,
                    "m": m,
                    "k": k,
                    "bits": [int(x) for x in r["bits"]],
                }
    return out


def _bloom_conf_of(manifest: dict | None, df: DataFrame) -> dict[str, dict]:
    """The {col: {m, k}} a manifest's newest Bloom entry was built under,
    for the columns ``df`` still has in a bloomable type — how writes
    that name no ``bloom_cols`` keep a Bloom-indexed table indexed."""
    for per_file in reversed((manifest or {}).get("blooms", {}).values()):
        if per_file:
            types = dict(df.dtypes)
            return {
                c: {"m": b["m"], "k": b["k"]}
                for c, b in per_file.items()
                if types.get(c) in _BLOOM_TYPES
            }
    return {}


def _bloom_key(value, dtype: str) -> str | None:
    """``value`` as the build's ``cast(col as string)`` renders it, or
    None when equality on a ``dtype`` column is not a plain match of that
    rendering (a cross-type comparison casts) — such a probe skips
    nothing."""
    if dtype == "string" and isinstance(value, str):
        return value
    if (
        dtype in _BLOOM_INT_TYPES
        and isinstance(value, int)
        and not isinstance(value, bool)
    ):
        return str(value)
    return None


def commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    commit_key: str | None = None,
    stat_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1024,
    bloom_hashes: int = 3,
) -> int:
    """Publish ``df`` as a new snapshot; returns the published version.

    ``mode='append'`` keeps the parent's files and adds the new ones;
    ``mode='overwrite'`` publishes only the new files (old files stay on
    disk for time travel until ``vacuum``). With ``commit_key`` set, a
    commit whose key is already published is a no-op returning the
    existing version — idempotent retries, no data written twice.

    ``stat_cols``: record per-file [min, max] of these columns in the
    manifest (footer metadata reads, no data scan) — fuel for
    ``merge_into_snapshot``'s file-level pruning and range-predicate
    skips. ``bloom_cols``: additionally record a per-file Bloom position
    set (m=``bloom_bits``, k=``bloom_hashes``) for planning-time file
    skipping on EQUALITY predicates over high-cardinality, unordered
    columns — where min/max ranges can't exclude anything. Without
    ``bloom_cols`` the new files are indexed under the head's Bloom conf.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if commit_key is not None:
        existing = _find_commit_key(table_dir, commit_key)
        if existing is not None:
            return existing
    if bloom_cols is None:
        bconf = _bloom_conf_of(_head(table_dir), df)
    else:
        bconf = {c: {"m": bloom_bits, "k": bloom_hashes} for c in bloom_cols}
    landed = _land(df, table_dir, stat_cols, bconf)
    return _publish_landed(
        table_dir, mode, mode, df.schema.json(), landed, commit_key
    )


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    predicates: dict[str, tuple] | None = None,
    equals: dict | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read a snapshot (default: latest; ``version=`` for an explicit
    one; ``as_of=<unix ts>`` for the newest snapshot published at or
    before that time). An empty file list yields an empty-but-typed
    DataFrame from the manifest's stored schema.

    Two layers of planning-time file skipping, both advisory (a file
    without the metadata always survives — pruning can only skip work,
    never rows), both re-applied as exact row filters:

    * ``predicates`` — ``{col: (lo, hi)}`` — range pruning off the
      manifest's per-file [min, max] stats (``commit(stat_cols=...)``);
      the tool for clustered/ordered columns.
    * ``equals`` — ``{col: value}`` — Bloom pruning off the manifest's
      per-file position sets (``commit(bloom_cols=...)``); the tool for
      point lookups on high-cardinality UNORDERED columns, where every
      file's [min, max] spans the whole domain and ranges exclude
      nothing. A needle-in-100-TB id lookup opens only the files whose
      Bloom admits the value (false positives just read one extra file).
    """
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if as_of is not None:
        version = version_as_of(table_dir, as_of)
    v = _latest(table_dir) if version is None else version
    if v is None or not os.path.exists(_snap_path(table_dir, v)):
        raise ValueError(f"no snapshot v{version} under {table_dir}")
    m = _load_manifest(table_dir, v)
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    files = m["files"]
    if predicates:
        stats = m.get("stats", {})

        def survives(rel: str) -> bool:
            for c, (lo, hi) in predicates.items():
                rng = stats.get(rel, {}).get(c)
                if rng is not None and (rng[1] < lo or rng[0] > hi):
                    return False
            return True

        files = [f for f in files if survives(f)]
    if equals:
        blooms = m.get("blooms", {})
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        keys = {c: _bloom_key(val, types.get(c, "")) for c, val in equals.items()}
        # positions are computed PER (column, m, k): files bloomed under
        # different geometries (bloom_bits changed between appends) each
        # get probes under their own modulus — never another file's
        pos: dict[tuple, set[int]] = {}

        def survives_bloom(rel: str) -> bool:
            for c, key in keys.items():
                b = blooms.get(rel, {}).get(c)
                # an entry of no recorded scheme (older manifests) or
                # another one cannot be probed: it never skips the file
                if key is None or b is None or b.get("scheme") != _BLOOM_SCHEME:
                    continue
                g = (c, b["m"], b["k"])
                if g not in pos:
                    pos[g] = {_pos_py(key, i, b["m"]) for i in range(b["k"])}
                if not pos[g] <= set(b["bits"]):
                    return False
            return True

        files = [f for f in files if survives_bloom(f)]
    if not files:
        out = spark.createDataFrame([], schema)
    else:
        # schema pinned from the manifest: time travel must return the
        # schema AS OF that version even after later evolution
        out = spark.read.schema(schema).parquet(
            *[os.path.join(table_dir, f) for f in files]
        )
    from pyspark.sql import functions as F

    for c, (lo, hi) in (predicates or {}).items():
        out = out.filter((F.col(c) >= lo) & (F.col(c) <= hi))
    for c, val in (equals or {}).items():
        out = out.filter(F.col(c) == val)
    return out


def diff_snapshots(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Rows ADDED between ``v_from`` (exclusive) and ``v_to`` (inclusive,
    default latest) — the incremental-consumption primitive: a downstream
    job checkpoints the last version it processed and reads only the new
    files, never re-scanning the table. At 100 TB this is the difference
    between a nightly full rescan and touching one day's files.

    Data files are immutable, so "added files" is an exact set difference
    of two manifests — pure metadata. Raises if ``v_from``'s files are not
    a subset of ``v_to``'s (an overwrite/rollback happened in between:
    the delta is not expressible as additions, the consumer must rescan).
    """
    v = _latest(table_dir) if v_to is None else v_to
    if v is None:
        raise ValueError(f"{table_dir} has no snapshots")
    for x in (v_from, v):
        if not os.path.exists(_snap_path(table_dir, x)):
            raise ValueError(f"no snapshot v{x} under {table_dir}")
    old = set(_load_manifest(table_dir, v_from)["files"])
    new_m = _load_manifest(table_dir, v)
    new = set(new_m["files"])
    if not old <= new:
        raise ValueError(
            f"v{v_from}..v{v} is not append-only ({len(old - new)} file(s) "
            "removed) — incremental read impossible, rescan the snapshot"
        )
    schema = T.StructType.fromJson(json.loads(new_m["schema"]))
    added = sorted(new - old)
    if not added:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, f) for f in added]
    )


def version_as_of(table_dir: str, ts: float) -> int:
    """Newest version whose publish time is <= ``ts`` (manifests without
    a recorded time — pre-timestamp tables — count as infinitely old)."""
    best = None
    for v in versions(table_dir):
        if _load_manifest(table_dir, v).get("created_at", 0.0) <= ts:
            best = v
    if best is None:
        raise ValueError(f"no snapshot under {table_dir} existed at {ts}")
    return best


def vacuum_expired(
    table_dir: str, retain_seconds: float, min_age_seconds: float = 600.0
) -> list[str]:
    """Time-based retention: keep the head plus every snapshot published
    within the last ``retain_seconds``; vacuum the rest. The GDPR
    companion to ``delete_from_snapshot`` — erasure completes once the
    deleting commit's predecessors age out of this window."""
    vs = versions(table_dir)
    if not vs:
        return []
    cutoff = time.time() - retain_seconds
    keep = [
        v
        for v in vs
        if _load_manifest(table_dir, v).get("created_at", 0.0) >= cutoff
    ]
    keep_last = max(len(keep), 1)  # never vacuum the head
    return vacuum(
        table_dir, keep_last=keep_last, min_age_seconds=min_age_seconds
    )


def rollback(table_dir: str, version: int) -> int:
    """Publish a NEW version whose file list is ``version``'s — history
    stays append-only (an audit can still see the bad snapshots)."""
    if version not in versions(table_dir):
        raise ValueError(f"cannot roll back to unknown version {version}")
    src = _load_manifest(table_dir, version)
    return _publish(
        table_dir,
        f"rollback_to_{version}",
        src["schema"],
        lambda parent_m: _next_manifest(
            src, src["files"], ([], {}, {}), src["schema"]
        ),
    )


# Keyed-DML pruning knobs: below _EXACT_PRUNE_MAX_KEYS distinct source
# keys the driver collects the exact key set (tightest possible file
# pruning, bounded memory); above it, pruning runs off <= _PRUNE_BUCKETS
# per-bucket [min, max] covering intervals computed IN-PLAN — a
# backfill-scale merge (10^7-10^8 distinct keys) never lands the full key
# set on the driver. _BROADCAST_MAX_KEYS gates F.broadcast on the
# semi/anti joins; larger sources fall back to a shuffle join.
_EXACT_PRUNE_MAX_KEYS = 100_000
_PRUNE_BUCKETS = 128
_BROADCAST_MAX_KEYS = 1_000_000


def _source_prune_intervals(keys: DataFrame, prune_col: str) -> list:
    """Bounded covering intervals [(lo, hi), ...] of the source's
    ``prune_col``, sorted by lo. Exact distinct values (zero-width
    intervals) when the approximate distinct count is small; otherwise
    per-uniform-bucket [min, max] intervals for numeric/temporal keys
    (one groupBy, <= _PRUNE_BUCKETS rows to the driver) or the single
    global [min, max] for other types. Every path is CONSERVATIVE: the
    union of intervals covers all source keys, so interval pruning can
    only mark extra files affected, never skip a matching one."""
    from pyspark.sql import functions as F

    row = keys.agg(
        F.min(prune_col).alias("lo"),
        F.max(prune_col).alias("hi"),
        F.approx_count_distinct(prune_col).alias("n"),
    ).collect()[0]
    if row["lo"] is None:
        return []
    if row["n"] <= _EXACT_PRUNE_MAX_KEYS:
        vals = sorted(
            r[0] for r in keys.select(prune_col).distinct().collect()
        )
        return [(v, v) for v in vals]
    lo, hi = row["lo"], row["hi"]
    dt = dict(keys.dtypes)[prune_col]
    if dt == "date":
        num = F.datediff(F.col(prune_col), F.lit(lo)).cast("double")
        span = float((hi - lo).days)
    elif dt == "timestamp":
        num = F.col(prune_col).cast("double") - F.lit(lo).cast(
            "timestamp"
        ).cast("double")
        span = (hi - lo).total_seconds()
    elif dt in ("tinyint", "smallint", "int", "bigint", "float", "double") \
            or dt.startswith("decimal"):
        num = F.col(prune_col).cast("double") - float(lo)
        span = float(hi) - float(lo)
    else:
        return [(lo, hi)]  # non-numeric: plain global range pruning
    if not span > 0:
        return [(lo, hi)]
    bucket = F.least(
        F.lit(_PRUNE_BUCKETS - 1),
        F.floor(num / span * _PRUNE_BUCKETS),
    )
    rows = (
        keys.groupBy(bucket.alias("__b"))
        .agg(F.min(prune_col).alias("lo"), F.max(prune_col).alias("hi"))
        .collect()
    )
    return sorted((r["lo"], r["hi"]) for r in rows)


def _prune_by_key_range(
    m: dict, prune_col: str, intervals: list
) -> tuple[list[str], list[str]]:
    """(affected, kept) split of a manifest's files: a file is affected
    iff its recorded [min, max] for ``prune_col`` intersects any of the
    lo-sorted covering ``intervals`` — or it has no stats (conservative).
    """
    from bisect import bisect_left

    starts = [iv[0] for iv in intervals]
    stats = m.get("stats", {})
    affected, kept = [], []
    for rel in m["files"]:
        rng = stats.get(rel, {}).get(prune_col)
        if rng is None:
            affected.append(rel)  # no stats → cannot exclude
            continue
        lo, hi = rng
        # candidate intervals: the first with start > hi can't intersect;
        # the one just before it may straddle [lo, hi] from the left
        i = bisect_left(starts, lo)
        hit = (i < len(intervals) and intervals[i][0] <= hi) or (
            i > 0 and intervals[i - 1][1] >= lo
        )
        (affected if hit else kept).append(rel)
    return affected, kept


def _publish_rewrite(
    table_dir: str,
    m: dict,
    op: str,
    kept: list[str],
    rewritten: DataFrame,
    prune_col: str,
    commit_key: str | None,
) -> int:
    """Land a keyed rewrite (MERGE/DELETE) and publish it as ``m``'s
    ``kept`` files plus the landed ones. Aborts if the head moved since
    planning (a concurrent writer's files must not be silently dropped)."""
    landed = _land(
        rewritten, table_dir, [prune_col], _bloom_conf_of(m, rewritten)
    )

    def files_fn(parent_m):
        if parent_m is not None and parent_m["version"] != m["version"]:
            raise RuntimeError(
                f"concurrent write to {table_dir}: {op} planned against "
                f"v{m['version']} but head is v{parent_m['version']} — rerun"
            )
        return _next_manifest(m, kept, landed, m["schema"])

    return _publish(table_dir, op.lower(), m["schema"], files_fn, commit_key)


def _reject_null_keys(keys: DataFrame, key_cols: list[str], op: str) -> None:
    """NULL keys make keyed DML ambiguous twice over: SQL null-join
    semantics never match them (the anti-join would keep the old row AND
    insert the new), and range pruning can't order them. Refuse loudly."""
    from pyspark.sql import functions as F

    cond = None
    for c in key_cols:
        cond = F.col(c).isNull() if cond is None else cond | F.col(c).isNull()
    if keys.filter(cond).limit(1).count():
        raise ValueError(
            f"{op} keys must be non-null: null values in {key_cols} never "
            "match under SQL join semantics and would duplicate rows"
        )


def merge_into_snapshot(
    spark: SparkSession,
    source: DataFrame,
    table_dir: str,
    key_cols: list[str],
    commit_key: str | None = None,
) -> dict:
    """File-level copy-on-write MERGE (upsert by ``key_cols``): rewrite
    ONLY the data files whose key range can contain a source key; every
    other live file is carried into the new snapshot untouched.

    Pruning runs off the manifest's per-file [min, max] stats for
    ``key_cols[0]`` (``commit(stat_cols=...)``) — a file without recorded
    stats is conservatively treated as affected, so pruning can only
    skip work, never rows. At 100 TB with date- or id-clustered files
    (sinks/layout.py), a small upsert touches a handful of files instead
    of rewriting the table — the Iceberg/Delta MERGE cost model on plain
    parquet.

    Scale shape: driver traffic is BOUNDED regardless of source size —
    pruning collects the exact distinct key set only below
    ``_EXACT_PRUNE_MAX_KEYS`` and otherwise <= ``_PRUNE_BUCKETS``
    per-bucket [min, max] covering intervals computed in-plan; the
    semi/anti joins broadcast the keys only below
    ``_BROADCAST_MAX_KEYS`` rows and shuffle-join beyond that. A
    CDC-sized upsert keeps the old tight plan; a backfill-scale merge
    (10^7+ distinct keys) degrades gracefully instead of landing the key
    set on the driver. Returns
    ``{version, matched, inserted, files_rewritten, files_total}``.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    m = _head(table_dir)
    if m is None:
        v = commit(source, table_dir, mode="append", commit_key=commit_key,
                   stat_cols=[key_cols[0]])
        return {
            "version": v,
            "matched": 0,
            "inserted": source.count(),
            "files_rewritten": 0,
            "files_total": len(_load_manifest(table_dir, v)["files"]),
        }
    target_cols = [
        f["name"] for f in json.loads(m["schema"])["fields"]
    ]
    if set(source.columns) != set(target_cols):
        raise ValueError(
            f"source columns {sorted(source.columns)} must match target "
            f"{sorted(target_cols)}"
        )
    dupes = source.groupBy(*key_cols).count().filter("count > 1")
    if dupes.limit(1).count():
        raise ValueError("source has multiple rows per merge key (ambiguous MERGE)")
    if commit_key is not None:
        existing = _find_commit_key(table_dir, commit_key)
        if existing is not None:
            return {"version": existing, "matched": 0, "inserted": 0,
                    "files_rewritten": 0, "files_total": len(m["files"]),
                    "idempotent_skip": True}

    src = source.select(*target_cols).localCheckpoint(eager=True, storageLevel=SCRATCH_LEVEL)
    n_src = src.count()
    keys = src.select(*key_cols)
    _reject_null_keys(keys, key_cols, "MERGE")
    prune_col = key_cols[0]
    intervals = _source_prune_intervals(keys, prune_col)
    affected, kept = _prune_by_key_range(m, prune_col, intervals)

    from pyspark.sql import functions as F

    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if affected:
        # size-gated broadcast: CDC-batch sources hash-broadcast into the
        # semi/anti joins; a backfill-scale source falls back to a
        # shuffle join rather than shipping GBs to every task
        jk = F.broadcast(keys) if n_src <= _BROADCAST_MAX_KEYS else keys
        hit = spark.read.schema(schema).parquet(
            *[os.path.join(table_dir, f) for f in affected]
        )
        matched = hit.join(jk, key_cols, "leftsemi").count()
        survivors = hit.join(jk, key_cols, "leftanti")
        rewritten = survivors.select(*target_cols).unionByName(src)
    else:
        matched = 0
        rewritten = src
    v = _publish_rewrite(
        table_dir, m, "MERGE", kept, rewritten, prune_col, commit_key
    )
    return {
        "version": v,
        "matched": matched,
        "inserted": n_src - matched,
        "files_rewritten": len(affected),
        "files_total": len(m["files"]),
    }


def delete_from_snapshot(
    spark: SparkSession,
    source_keys: DataFrame,
    table_dir: str,
    key_cols: list[str],
    commit_key: str | None = None,
) -> dict:
    """File-level copy-on-write DELETE by key: rewrite only files whose
    key range can contain a doomed key (manifest-stats pruning, same
    machinery as ``merge_into_snapshot``); untouched files carry over.
    The snapshot-native right-to-be-forgotten primitive (the managed-
    table twin is sinks/forget.py) — and because old versions survive
    until ``vacuum``, GDPR erasure is only complete after vacuuming past
    the deleting commit, which this returns the version of.
    """
    from pyspark.sql import functions as F

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    m = _head(table_dir)
    if m is None:
        raise ValueError(f"{table_dir} has no snapshots")
    if commit_key is not None:
        existing = _find_commit_key(table_dir, commit_key)
        if existing is not None:
            return {"version": existing, "deleted": 0, "files_rewritten": 0,
                    "files_total": len(m["files"]), "idempotent_skip": True}
    keys = source_keys.select(*key_cols).distinct().localCheckpoint(eager=True, storageLevel=SCRATCH_LEVEL)
    n_keys = keys.count()
    _reject_null_keys(keys, key_cols, "DELETE")
    prune_col = key_cols[0]
    intervals = _source_prune_intervals(keys, prune_col)
    affected, kept = _prune_by_key_range(m, prune_col, intervals)
    if not affected:
        return {"version": m["version"], "deleted": 0, "files_rewritten": 0,
                "files_total": len(m["files"])}
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    hit = spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, f) for f in affected]
    )
    jk = F.broadcast(keys) if n_keys <= _BROADCAST_MAX_KEYS else keys
    doomed = hit.join(jk, key_cols, "leftsemi").count()
    survivors = hit.join(jk, key_cols, "leftanti")
    v = _publish_rewrite(
        table_dir, m, "DELETE", kept, survivors, prune_col, commit_key
    )
    return {
        "version": v,
        "deleted": doomed,
        "files_rewritten": len(affected),
        "files_total": len(m["files"]),
    }


def compact_snapshot(
    spark: SparkSession, table_dir: str, target_file_mb: int = 128
) -> dict:
    """Publish a compacted snapshot: same rows, ~size/target files.
    Small-file pathology is the #1 silent killer of 100 TB scans (one
    task + one open() per file); compaction here is just read-latest →
    repartition → commit(overwrite) — readers on old versions are
    untouched, vacuum reclaims the small files later. The compacted
    files keep the head's stat columns and (by ``commit``'s default)
    its Bloom conf."""
    m = _head(table_dir)
    if m is None:
        raise ValueError(f"{table_dir} has no snapshots")
    total = sum(
        os.path.getsize(os.path.join(table_dir, f)) for f in m["files"]
    )
    n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    df = read_snapshot(spark, table_dir).repartition(int(n))
    stat_cols = sorted(
        {c for s in m.get("stats", {}).values() for c in s}
    ) or None
    v = commit(df, table_dir, mode="overwrite", stat_cols=stat_cols)
    return {
        "version": v,
        "files_before": len(m["files"]),
        "files_after": len(_load_manifest(table_dir, v)["files"]),
    }


_STAGED_DIR = "_staged"


def _staged_path(table_dir: str, name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9_.-]+", name):
        raise ValueError(f"staged name must be [A-Za-z0-9_.-]+, got {name!r}")
    return os.path.join(table_dir, _STAGED_DIR, f"{name}.json")


def stage(
    df: DataFrame,
    table_dir: str,
    name: str,
    mode: str = "append",
    stat_cols: list[str] | None = None,
) -> str:
    """Write-Audit-Publish step 1: land ``df``'s data files and park the
    would-be manifest under ``_staged/<name>.json`` — INVISIBLE to every
    reader until ``publish_staged``. The audit job reads the staged view
    (``read_staged``), runs its checks (operators/expectations.py), and
    either publishes or drops; a dropped batch never existed as far as
    consumers are concerned, and its files are vacuum-swept.

    The heavy work (the executor-parallel write, plus Bloom entries
    under the head's Bloom conf) happens here; publish is a pure
    metadata flip — so the audit window adds zero data-write latency to
    the happy path."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    p = _staged_path(table_dir, name)
    if os.path.exists(p):
        raise ValueError(f"staged batch {name!r} already exists — drop it first")
    files, stats, blooms = _land(
        df, table_dir, stat_cols, _bloom_conf_of(_head(table_dir), df)
    )
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump(
            {"name": name, "mode": mode, "files": files, "stats": stats,
             "blooms": blooms, "schema": df.schema.json()},
            f,
        )
    return p


def read_staged(
    spark: SparkSession,
    table_dir: str,
    name: str,
    include_head: bool = True,
) -> DataFrame:
    """What the table WOULD be if ``name`` were published now: the staged
    files, plus (append mode) the current head's files.
    ``include_head=False`` reads the staged batch ALONE — for audits whose
    checks are about the batch itself (row yield, batch-level invariants)
    rather than the post-publish table state."""
    p = _staged_path(table_dir, name)
    if not os.path.exists(p):
        raise ValueError(f"no staged batch {name!r} under {table_dir}")
    with open(p) as f:
        st = json.load(f)
    files = list(st["files"])
    if st["mode"] == "append" and include_head:
        head = _head(table_dir)
        if head is not None:
            files = head["files"] + files
    schema = T.StructType.fromJson(json.loads(st["schema"]))
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, f) for f in files]
    )


def publish_staged(
    table_dir: str, name: str, commit_key: str | None = None
) -> int:
    """WAP step 3: atomically promote the staged batch into the version
    chain (same O_EXCL publish as commit — concurrent appends that
    landed since staging are preserved under append mode). The staged
    marker is removed on success. The publish applies the same append
    schema guard as ``commit``: a staged append that drops or retypes a
    column of the publish-time head raises ``ValueError``.

    Idempotent by default: the publish carries ``commit_key =
    "staged:<name>"`` unless overridden, so a crash between publish and
    marker removal (or a concurrent double publish) re-resolves to the
    already-published version instead of appending the same files twice.
    """
    p = _staged_path(table_dir, name)
    key = commit_key if commit_key is not None else f"staged:{name}"
    if not os.path.exists(p):
        # marker already consumed — a completed publish (possibly ours,
        # retried after a crash) is fine; anything else is an error
        existing = _find_commit_key(table_dir, key)
        if existing is not None:
            return existing
        raise ValueError(f"no staged batch {name!r} under {table_dir}")
    with open(p) as f:
        st = json.load(f)
    if _find_commit_key(table_dir, key) is not None:
        raise ValueError(
            f"batch name {name!r} was already published once — staged names "
            "must be unique per publish (or pass an explicit commit_key)"
        )
    landed = (st["files"], st.get("stats", {}), st.get("blooms", {}))
    v = _publish_landed(
        table_dir, st["mode"], f"publish_{st['mode']}", st["schema"], landed, key
    )
    try:
        os.remove(p)
    except FileNotFoundError:
        pass  # concurrent publisher of the same batch already cleaned up
    return v


def drop_staged(table_dir: str, name: str) -> None:
    """WAP abort: forget the staged batch (its data files are swept by
    the next ``vacuum`` — they were never referenced by any manifest)."""
    p = _staged_path(table_dir, name)
    if not os.path.exists(p):
        raise ValueError(f"no staged batch {name!r} under {table_dir}")
    os.remove(p)


def vacuum(
    table_dir: str, keep_last: int = 1, min_age_seconds: float = 600.0
) -> list[str]:
    """Delete data files referenced by NO kept version and no staged
    (pre-publish) batch — the newest ``keep_last`` snapshots survive;
    older manifests are dropped too. Also sweeps unreferenced files from
    crashed commits (including orphaned ``_staging_*`` dirs) and dropped
    WAP batches. Returns deleted paths (relative).

    ``min_age_seconds``: an unreferenced file younger than this is left
    alone — it may belong to an IN-FLIGHT commit whose data files are
    already renamed into ``data/`` but whose manifest hasn't published
    yet (the same writer/vacuum race Delta guards with its retention
    window). Pass 0 only when no writer can be active.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (never vacuum the head)")
    vs = versions(table_dir)
    if not vs:
        return []
    keep_vs = vs[-keep_last:]
    live: set[str] = set()
    for v in keep_vs:
        live.update(_load_manifest(table_dir, v)["files"])
    staged_dir = os.path.join(table_dir, _STAGED_DIR)
    if os.path.isdir(staged_dir):
        for f in os.listdir(staged_dir):
            if f.endswith(".json"):
                with open(os.path.join(staged_dir, f)) as fh:
                    live.update(json.load(fh)["files"])
    cutoff = time.time() - min_age_seconds
    deleted = []
    data_dir = os.path.join(table_dir, _DATA_DIR)
    if os.path.isdir(data_dir):
        for f in sorted(os.listdir(data_dir)):
            rel = f"{_DATA_DIR}/{f}"
            full = os.path.join(data_dir, f)
            if rel not in live and os.path.getmtime(full) <= cutoff:
                os.remove(full)
                deleted.append(rel)
    for entry in os.listdir(table_dir):
        full = os.path.join(table_dir, entry)
        if (
            entry.startswith("_staging_")
            and os.path.isdir(full)
            and os.path.getmtime(full) <= cutoff
        ):
            shutil.rmtree(full)
            deleted.append(entry)
    for v in vs[:-keep_last]:
        os.remove(_snap_path(table_dir, v))
    return deleted
