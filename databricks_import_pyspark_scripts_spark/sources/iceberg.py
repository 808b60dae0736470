"""Pure-Python Apache Iceberg table reader: snapshot-at-id reads against a
REAL Iceberg table directory, no iceberg-spark runtime jar required — the
second lakehouse format beside the Delta log reader (``delta_log.py``),
built the same way: the METADATA layer is parsed driver-side (it is
KB-to-MB of JSON + Avro even for huge tables), all row DATA stays in
executor-side parquet scans planned from the resolved file list.

Implements the public Iceberg table spec (iceberg.apache.org/spec):

* table metadata lives at ``<table>/metadata/v<N>.metadata.json`` (the
  HadoopCatalog convention, with ``version-hint.text`` pointing at the
  current N) or any ``*.metadata.json``; it carries the schema (with
  FIELD IDS — Iceberg is id-based by design), partition specs, and the
  snapshot list;
* each snapshot points at a MANIFEST LIST (Avro): one row per manifest
  with its content type (0 = data, 1 = row-level deletes);
* each data manifest (Avro) holds ``manifest_entry`` rows: status
  (0 EXISTING / 1 ADDED / 2 DELETED) + a ``data_file`` record
  (file_path, file_format, record_count, ...). A snapshot's live file
  set = entries with status != DELETED across its data manifests;
* data files are parquet with embedded FIELD IDS; columns are resolved
  by id, never by name — the same Spark-native field-id matching the
  Delta column-mapping ``id`` mode uses
  (``spark.sql.parquet.fieldId.read.enabled``), so renames are free and
  entirely JVM-side.

Merge-on-read v2 tables (content=1 delete manifests) are FULLY
supported. POSITION deletes: the snapshot read anti-joins the data
scan's ``(_metadata.file_path, _metadata.row_index)`` against the
delete files' ``(file_path, pos)`` pairs — broadcast under a
cardinality threshold, plain shuffle anti-join above it, so the delete
side never has to fit on the driver (the same two-strategy model as
the Delta reader's deletion vectors,
``delta_log.py:_apply_deletion_vectors``, except Iceberg keeps deletes
in parquet so no driver-side bitmap decode exists at all). EQUALITY
deletes (content=2, the Flink-CDC upsert form): data rows
null-safe-matching any delete row on the file's ``equality_ids``
columns are dropped iff the data file's SEQUENCE NUMBER is strictly
below the delete file's (v2 inheritance from the manifest list; a row
re-inserted after the delete survives) — one anti-join per
equality-ids group with the sequence comparison in the join condition.

Deliberately unsupported, rejected loudly BEFORE any read (never a
wrong answer): non-parquet/ORC data files. The uuid/time column types
read as their spec logical values (canonical string / micros-long);
foreign fixed[16]-uuid physical layouts fail loudly at the parquet scan.

The Avro container decoding is ``avro_codec.py`` — a from-scratch
implementation of the public Avro spec (no avro library exists here).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame
from .avro_codec import read_container, write_container
from .delta_log import (
    _exists,
    _file_key,
    _file_key_col,
    _is_local,
    _list_names,
    _read_bytes,
    _stored_file_key,
    _stored_file_key_col,
    _strip_scheme,
)

METADATA_DIR = "metadata"
_VMETA_RE = re.compile(r"^v(\d+)\.metadata\.json$")

#: manifest count at or above which manifest Avro decode + filter
#: evaluation moves to EXECUTORS (``_parallel_manifest_records``); below
#: it the driver decodes serially — cheaper than a Spark job for the
#: common few-manifest table. Env-overridable for tests and tuning.
ICEBERG_PARALLEL_MANIFEST_THRESHOLD = int(os.environ.get(
    "SPARK_GRAFT_ICEBERG_PARALLEL_MANIFESTS", "64"))

STATUS_EXISTING, STATUS_ADDED, STATUS_DELETED = 0, 1, 2


class IcebergProtocolError(NotImplementedError):
    """The table uses a spec feature this reader does not implement.
    Raised BEFORE any data is read — a wrong answer is never produced."""


# ---------------------------------------------------------------------------
# metadata resolution

def is_iceberg_table(spark: SparkSession, table_path: str) -> bool:
    if _is_metadata_handle(table_path):
        return _exists(spark, table_path)
    return _exists(spark, os.path.join(table_path, METADATA_DIR))


def _is_metadata_handle(handle: str) -> bool:
    return handle.rstrip("/").endswith(".metadata.json")


def iceberg_table_root(handle: str, meta: dict | None = None) -> str:
    """Table ROOT for a handle that may be a direct ``*.metadata.json``
    path. Catalog-managed tables (REST/Glue/Hive — the production
    majority) have no ``version-hint.text``/file-layout pointer; the
    catalog hands clients exactly this metadata-file location, so the
    readers accept it as the table handle. The metadata's own
    ``location`` field wins when present (the spec's authoritative
    root, what relative paths resolve against); otherwise two levels up
    from ``<root>/metadata/<file>``. Directory handles pass through."""
    h = handle.rstrip("/")
    if not _is_metadata_handle(h):
        return handle
    if meta is not None and meta.get("location"):
        return str(meta["location"])
    return os.path.dirname(os.path.dirname(_strip_scheme(h)))


def _write_hint(mdir: str, v: int) -> None:
    """Update ``version-hint.text`` ATOMICALLY (temp file in the same
    directory + ``os.replace``). A plain truncating ``open(..., "w")``
    leaves a window where a racing reader sees an empty/torn file and
    ``int()`` raises — the CAS-append path makes concurrent
    reader-vs-hint-update churn a SUPPORTED scenario, so the hint must
    never be observable mid-write. Local-FS only, like every hint write
    (the hint is a HadoopCatalog convention; object stores have no
    rename but also get atomic single-PUT visibility for free)."""
    fd, tmp = tempfile.mkstemp(dir=mdir, prefix=".version-hint.")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(v))
        # mkstemp creates 0600 and os.replace preserves it — restore a
        # world-readable mode or concurrent readers under another uid
        # get PermissionError instead of an advisory hint
        os.chmod(tmp, 0o644)
        os.replace(tmp, os.path.join(mdir, "version-hint.text"))
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise


def read_table_metadata(spark: SparkSession, table_path: str) -> dict:
    """Current table metadata: the HIGHEST of ``version-hint.text`` (the
    HadoopCatalog commit pointer — ADVISORY: a writer may crash between
    its CAS commit and the hint update, or two racers' hint writes may
    land out of order) and the highest ``v<N>.metadata.json`` actually
    present — so a committed-but-unhinted version is never silently
    dropped (r9 review finding #1)."""
    if _is_metadata_handle(table_path):
        # catalog-managed handle: THE file is the current metadata (the
        # catalog, not a directory listing, decides currency)
        return _check_meta(json.loads(_read_bytes(spark, table_path)))
    mdir = os.path.join(table_path, METADATA_DIR)
    hint = os.path.join(mdir, "version-hint.text")
    hinted = -1
    if _exists(spark, hint):
        # tolerate an empty/torn hint (a racer mid-rewrite, or a crash
        # with a legacy non-atomic writer): the hint is advisory and the
        # v<N> directory listing below recovers the real head anyway.
        raw = _read_bytes(spark, hint).decode("utf-8", "replace").strip()
        if re.fullmatch(r"\d+", raw):
            hinted = int(raw)
    versions = sorted(int(m.group(1)) for n in _list_names(spark, mdir)
                      if (m := _VMETA_RE.match(n)))
    v = max([hinted, *versions]) if (versions or hinted >= 0) else None
    name = f"v{v}.metadata.json" if v is not None and v >= 0 else None
    if name is None:
        raise FileNotFoundError(f"no Iceberg metadata under {mdir}")
    return _check_meta(json.loads(_read_bytes(spark,
                                              os.path.join(mdir, name))))


def _check_meta(meta: dict) -> dict:
    fv = int(meta.get("format-version", 1))
    if fv not in (1, 2, 3):
        raise IcebergProtocolError(f"unsupported Iceberg format-version {fv}")
    # v3 column defaults: the read path materializes supported
    # ``initial-default`` declarations (_initial_defaults /
    # _group_by_absent_defaults); unsupported default TYPES reject
    # loudly there rather than serve nulls. ``write-default`` needs
    # nothing from readers.
    return meta


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
    if "schema" in meta:  # v1 single-schema form
        return meta["schema"]
    raise IcebergProtocolError("table metadata carries no schema")


def _resolve_ref(meta: dict, ref: str) -> int:
    """Snapshot id a named ref (branch or tag) points at, per the spec's
    ``refs`` metadata map. ``main`` falls back to the current snapshot
    when the table predates refs metadata — the spec defines main as the
    default branch tracking the head."""
    refs = meta.get("refs") or {}
    r = refs.get(ref)
    if r is not None:
        return int(r["snapshot-id"])
    if ref == "main":
        cur = meta.get("current-snapshot-id")
        if cur is not None and int(cur) != -1:
            return int(cur)
    raise FileNotFoundError(
        f"ref {ref!r} not found (have {sorted(refs)})")


def _advance_head(new_meta: dict, snap_id: int) -> None:
    """Point the table head at ``snap_id``: ``current-snapshot-id`` AND
    the ``main`` branch ref when one exists — the spec keeps them in
    lockstep, and an engine reading ``VERSION AS OF 'main'`` would
    otherwise see a stale branch after this writer's commits."""
    new_meta["current-snapshot-id"] = snap_id
    refs = new_meta.get("refs")
    if refs and "main" in refs:
        new_meta["refs"] = {**refs,
                            "main": {**refs["main"],
                                     "snapshot-id": snap_id}}


def _snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise FileNotFoundError("table has no snapshots")
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    for s in snaps:
        if s.get("snapshot-id") == snapshot_id:
            return s
    raise FileNotFoundError(f"snapshot {snapshot_id} not found "
                            f"(have {[s.get('snapshot-id') for s in snaps]})")


def _resolve_path(table_path: str, uri: str) -> str:
    if uri.startswith("file:"):
        return _strip_scheme(uri)
    if "://" in uri or uri.startswith("/"):
        return uri
    return os.path.join(table_path, uri)


# ---------------------------------------------------------------------------
# manifest resolution (Avro, driver-side metadata)

def _bound_value(raw: bytes, ice_type: str):
    """Iceberg single-value binary serialization (spec Appendix D,
    little-endian) for the bound types data skipping uses; None for types
    this reader does not decode (their columns are simply unskippable)."""
    import struct as _struct

    try:
        if ice_type == "int":
            return _struct.unpack("<i", raw)[0]
        if ice_type == "long":
            return _struct.unpack("<q", raw)[0]
        if ice_type == "float":
            return _struct.unpack("<f", raw)[0]
        if ice_type == "double":
            return _struct.unpack("<d", raw)[0]
        if ice_type == "string":
            return raw.decode("utf-8")
        if ice_type == "boolean":
            return raw == b"\x01"
        if ice_type == "time":          # 8-byte LE micros from midnight
            return _struct.unpack("<q", raw)[0]
        if ice_type == "uuid":          # 16-byte big-endian (spec App. D)
            import uuid as _uuid_mod
            if len(raw) != 16:
                return None
            # canonical lowercase hex string: lexicographic order equals
            # the big-endian byte order, so string comparisons are safe
            return str(_uuid_mod.UUID(bytes=bytes(raw)))
    except Exception:  # noqa: BLE001 — undecodable bound: unskippable
        return None
    return None


def _bounds_map(df_entry: dict, key: str) -> dict[int, bytes]:
    """lower_bounds/upper_bounds as {field_id: raw bytes}. Iceberg's Avro
    layout stores int-keyed maps as arrays of key/value records; accept
    that, a plain dict, and pyarrow's tuple-list form."""
    v = df_entry.get(key)
    if not v:
        return {}
    if isinstance(v, dict):
        return {int(k): bytes(val) for k, val in v.items()}
    out = {}
    for item in v:
        if isinstance(item, dict):
            out[int(item["key"])] = bytes(item["value"])
        else:
            k, val = item
            out[int(k)] = bytes(val)
    return out


def decoded_column_bounds(meta: dict, data_file: dict) -> dict[str, tuple]:
    """{column_name: (lo, hi)} for every TOP-LEVEL primitive column with
    decodable lower+upper bounds on this file — the stats_filter input.
    Columns without bounds are absent (treat as unskippable)."""
    fields = {int(f["id"]): (f["name"], f["type"])
              for f in _current_schema(meta)["fields"]
              if isinstance(f["type"], str)}
    lo = _bounds_map(data_file, "lower_bounds")
    hi = _bounds_map(data_file, "upper_bounds")
    out: dict[str, tuple] = {}
    for fid, (name, t) in fields.items():
        if fid in lo and fid in hi:
            l_v = _bound_value(lo[fid], t)
            h_v = _bound_value(hi[fid], t)
            if l_v is not None and h_v is not None:
                out[name] = (l_v, h_v)
    return out


def iceberg_column_range_filter(column: str, lo=None, hi=None):
    """Superset-safe stats filter: keep a file unless its decoded bounds
    PROVE no row can satisfy ``lo <= column <= hi`` — files without
    decodable bounds for the column are always kept, so pruning composes
    with the row-level predicate exactly like the Delta reader's
    ``column_range_filter``."""
    def keep(bounds: dict[str, tuple]) -> bool:
        b = bounds.get(column)
        if b is None:
            return True
        f_lo, f_hi = b
        if lo is not None and f_hi < lo:
            return False
        if hi is not None and f_lo > hi:
            return False
        return True
    return keep


# ---------------------------------------------------------------------------
# partition transforms (Iceberg spec "Partition Transforms"): evaluated
# driver-side on FILTER BOUNDS so metadata pruning composes with
# bucket/truncate/days/... specs instead of rejecting them.  All public
# spec math; murmur3_x86_32 is the spec's named bucket hash.

def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public domain algorithm; the hash the Iceberg spec
    mandates for bucket transforms, Appendix B). Returns a SIGNED int32
    to match the spec's Java semantics."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounds = n // 4
    import struct as _struct

    for i in range(rounds):
        k = _struct.unpack_from("<I", data, i * 4)[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounds * 4:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 0x100000000 if h >= 0x80000000 else h


def _bucket_hash(value, ice_type: str) -> int:
    """Spec Appendix B hash input: int/long/date/time/timestamp hash as
    8-byte little-endian long; string as UTF-8 bytes."""
    import struct as _struct
    from datetime import date, datetime, timezone

    if ice_type in ("int", "long"):
        raw = _struct.pack("<q", int(value))
    elif ice_type == "date":
        if isinstance(value, date) and not isinstance(value, datetime):
            value = (value - date(1970, 1, 1)).days
        raw = _struct.pack("<q", int(value))
    elif ice_type in ("timestamp", "timestamptz"):
        if isinstance(value, datetime):
            value = _exact_micros(value)
        raw = _struct.pack("<q", int(value))
    elif ice_type == "string":
        raw = str(value).encode("utf-8")
    else:
        raise IcebergProtocolError(
            f"bucket transform over type {ice_type!r} is not supported")
    return _murmur3_32(raw)


def _exact_micros(value) -> int:
    """Exact epoch microseconds — NEVER float .timestamp()*1e6, which is
    off by 1 µs for ~1.25%% of values (r9 review finding #2): a wrong
    microsecond changes the murmur3 bucket and silently prunes the file
    holding the matching rows."""
    import calendar
    from datetime import timezone

    v = value if value.tzinfo is None else value.astimezone(timezone.utc)
    return (calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond)


def _to_micros(value) -> int:
    from datetime import date, datetime

    if isinstance(value, datetime):
        return _exact_micros(value)
    if isinstance(value, date):
        return (value - date(1970, 1, 1)).days * 86_400_000_000
    return int(value)


def apply_transform(transform: str, value, ice_type: str):
    """Spec partition-transform output for one SOURCE value — the number
    an Iceberg writer stores in the manifest partition struct."""
    if value is None:
        return None
    if transform == "identity":
        return value
    if transform == "void":
        return None
    m = re.match(r"^truncate\[(\d+)\]$", transform)
    if m:
        w = int(m.group(1))
        if ice_type in ("int", "long"):
            return int(value) - (int(value) % w)  # floor semantics
        if ice_type == "string":
            return str(value)[:w]
        raise IcebergProtocolError(
            f"truncate transform over type {ice_type!r} is not supported")
    m = re.match(r"^bucket\[(\d+)\]$", transform)
    if m:
        n = int(m.group(1))
        return (_bucket_hash(value, ice_type) & 0x7FFFFFFF) % n
    if transform in ("year", "years", "month", "months",
                     "day", "days", "hour", "hours"):
        from datetime import date, timedelta

        micros = _to_micros(value)
        days = micros // 86_400_000_000
        if transform in ("hour", "hours"):
            return micros // 3_600_000_000
        if transform in ("day", "days"):
            return days
        d = date(1970, 1, 1) + timedelta(days=days)
        if transform in ("month", "months"):
            return (d.year - 1970) * 12 + (d.month - 1)
        return d.year - 1970
    raise IcebergProtocolError(f"unknown partition transform {transform!r}")


#: transforms that are order-preserving on their source values — range
#: predicates map to ranges of stored partition values (bucket does NOT)
_MONOTONIC = re.compile(
    r"^(identity|truncate\[\d+\]|years?|months?|days?|hours?)$")


class _TransformAwareFilter:
    """Metadata partition filter that understands NON-IDENTITY specs:
    prunes on the TRANSFORMED bounds of a source-column predicate.
    ``live_data_files`` lets instances through where a plain dict->bool
    callback over a non-identity spec is rejected (a plain callback
    can't know the stored values are transform outputs)."""

    transform_aware = True

    def __init__(self, fields: list[tuple[str, str, str]],
                 lo=None, hi=None, eq=None):
        # fields: (partition field name, transform, source ice_type)
        self.fields = fields
        self.lo, self.hi, self.eq = lo, hi, eq
        self.checks: list[tuple[str, object, object]] = []
        for name, transform, ice_type in fields:
            if eq is not None:
                t = apply_transform(transform, eq, ice_type)
                self.checks.append((name, t, t))
                continue
            if not _MONOTONIC.match(transform):
                # a range over hash buckets cannot prune — the superset-
                # safe answer is "this field prunes nothing", NOT an
                # error: a user filtering ts > X on a bucket(ts) spec
                # still gets the right rows (the row-level predicate
                # stays on the scan), just without metadata pruning on
                # this dimension (VERDICT r9 missing #3)
                continue
            t_lo = (apply_transform(transform, lo, ice_type)
                    if lo is not None else None)
            t_hi = (apply_transform(transform, hi, ice_type)
                    if hi is not None else None)
            self.checks.append((name, t_lo, t_hi))

    def __call__(self, partition: dict) -> bool:
        for name, t_lo, t_hi in self.checks:
            v = partition.get(name)
            if v is None:  # absent/null stored value: unskippable
                continue
            if t_lo is not None and v < t_lo:
                return False
            if t_hi is not None and v > t_hi:
                return False
        return True


def iceberg_source_range_filter(meta: dict, column: str,
                                lo=None, hi=None, eq=None):
    """Partition filter pruning on a SOURCE-column predicate against any
    spec whose transforms derive from ``column`` — ``days()``-partitioned
    event time being the dominant real layout. Monotonic transforms
    (identity, truncate, year/month/day/hour) accept ranges; ``bucket``
    prunes on ``eq`` only — a RANGE over a bucket field degrades to
    "prune nothing on this field" (superset-safe: the row-level
    predicate on the scan still filters exactly; only the metadata
    skip is lost). Spec fields derived from OTHER columns are ignored,
    null stored values never prune, and the row-level predicate must
    stay on the result exactly as with the identity/stats filters."""
    if eq is not None and (lo is not None or hi is not None):
        raise ValueError("pass either eq or lo/hi, not both")
    schema_fields = {int(f["id"]): (f["name"], f["type"])
                     for f in _current_schema(meta)["fields"]
                     if isinstance(f["type"], str)}
    specs = meta.get("partition-specs") or []
    sid = meta.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id", 0) == sid),
                {"fields": []})
    matched = []
    for f in spec.get("fields") or []:
        src = schema_fields.get(int(f.get("source-id", -1)))
        if src and src[0] == column:
            matched.append((f["name"], f.get("transform") or "identity",
                            src[1]))
    return _TransformAwareFilter(matched, lo=lo, hi=hi, eq=eq)


def _identity_partition_names(meta: dict) -> list[str] | None:
    """Partition field names when EVERY transform is identity; None for a
    non-identity spec (bucket/truncate/days/...: partition VALUES are
    derived, so a value-level filter cannot be mapped to source columns —
    callers must reject rather than prune wrongly)."""
    specs = meta.get("partition-specs") or []
    sid = meta.get("default-spec-id", 0)
    spec = next((s for s in specs if s.get("spec-id", 0) == sid),
                {"fields": []})
    names = []
    for f in spec.get("fields") or []:
        if (f.get("transform") or "identity") != "identity":
            return None
        names.append(f["name"])
    return names


def live_data_files(spark: SparkSession | None, table_path: str,
                    meta: dict, snapshot_id: int | None = None,
                    partition_filter=None,
                    stats_filter=None,
                    deletes_out: list | None = None) -> list[dict]:
    """``data_file`` records (dicts) live in the chosen snapshot, each
    with its data sequence number as ``_seq`` (``_sift_entries``).

    ``deletes_out``: when a list is passed, live delete files — position
    deletes and v3 deletion vectors (``data_file.content == 1``) and
    equality deletes (``content == 2``, with their ``equality_ids``) —
    are appended to it for the caller to apply
    (``read_iceberg_snapshot`` does, through ``_apply_row_deletes``).
    When ``None`` (the default), ANY live delete entry rejects — callers
    that cannot apply deletes must never silently over-count rows.

    Manifests decode on the driver, or in executors once there are
    ``ICEBERG_PARALLEL_MANIFEST_THRESHOLD`` of them on a local or shared
    file system and a ``spark`` session to run the job; with
    ``spark=None`` they always decode on the driver.

    ``partition_filter``: optional ``dict[str, value] -> bool`` over each
    entry's partition struct (keyed by partition field name) — metadata-
    level pruning, evaluated BEFORE any scan is planned: a pruned
    partition contributes zero files, zero tasks. Identity transforms
    only; a non-identity spec rejects the filter loudly (the partition
    VALUE is a derived bucket/truncation, not the column value)."""
    if (partition_filter is not None
            and not getattr(partition_filter, "transform_aware", False)
            and _identity_partition_names(meta) is None):
        raise IcebergProtocolError(
            "plain partition_filter over a non-identity partition spec: "
            "the stored partition values are transform outputs, not "
            "column values — use iceberg_source_range_filter, which "
            "evaluates the transforms on the predicate bounds")
    snap = _snapshot(meta, snapshot_id)
    if "manifest-list" not in snap:
        raise IcebergProtocolError(
            "snapshot carries inline 'manifests' (v1 early form); only "
            "manifest-list snapshots are supported")
    _, manifests = read_container(_read_bytes(
        spark, _resolve_path(table_path, snap["manifest-list"])))
    allow_deletes = deletes_out is not None
    pairs = [(_resolve_path(table_path, mf["manifest_path"]),
              int(mf.get("content") or 0),
              int(mf.get("sequence_number") or 0),
              mf.get("first_row_id")) for mf in manifests]
    if (spark is not None
            and len(pairs) >= ICEBERG_PARALLEL_MANIFEST_THRESHOLD
            and all("://" not in p for p, _, _, _ in pairs)):
        groups = _parallel_manifest_records(
            spark, pairs, meta, partition_filter, stats_filter,
            allow_deletes)
    else:
        groups = []
        for path, content, mf_seq, mf_frid in pairs:
            _, entries = read_container(_read_bytes(spark, path))
            groups.append(_sift_entries(content, entries, meta,
                                        partition_filter, stats_filter,
                                        allow_deletes, mf_seq, mf_frid))
    out: list[dict] = []
    for data, dels, err in groups:
        if err is not None:
            raise IcebergProtocolError(err)
        out.extend(data)
        if deletes_out is not None:
            deletes_out.extend(dels)
    return out


def _sift_entries(content: int, entries: list[dict], meta: dict,
                  partition_filter, stats_filter,
                  allow_deletes: bool,
                  mf_seq: int = 0,
                  mf_first_row_id: int | None = None
                  ) -> tuple[list, list, str | None]:
    """Classify one manifest's live entries: (data_files, delete_files,
    error). Pure — runs identically on the driver and inside the
    executor-parallel decode path, so the two can never disagree.
    Each returned record carries ``_seq``, its DATA SEQUENCE NUMBER
    (the entry's own when present, else inherited from the manifest —
    the v2 inheritance rule) — what equality deletes' strictly-older
    scoping compares.

    ``mf_first_row_id``: the manifest's v3 row-lineage assignment — a
    data entry with null ``first_row_id`` INHERITS ``mf_first_row_id +
    sum(record_count of preceding null-first_row_id data files in this
    manifest)`` (spec "Row Lineage": assignment is positional at the
    manifest level, so readers of tables written WITHOUT backfill still
    see stable ids)."""
    if content == 0 and mf_first_row_id is not None:
        # Positional inheritance counts ONLY entries requiring
        # assignment — ADDED status (the spec assigns first-row-id at
        # commit time to the files the snapshot adds). A DELETED or
        # EXISTING entry with null first_row_id must not consume a slot
        # in the run, or every subsequent file's inherited id shifts
        # (ADVICE r11 #3).
        run = int(mf_first_row_id)
        for e in entries:
            if int(e.get("status") or 0) != STATUS_ADDED:
                continue
            df0 = e.get("data_file") or {}
            if df0.get("first_row_id") is None:
                e["_inherited_frid"] = run
                run += int(df0.get("record_count") or 0)
    live = [e for e in entries
            if int(e.get("status") or 0) != STATUS_DELETED]
    data: list[dict] = []
    dels: list[dict] = []

    class _Bad(Exception):
        pass

    fv = int(meta.get("format-version", 1))

    def _rec(e: dict) -> dict:
        df = dict(e["data_file"])
        own = e.get("sequence_number")
        if own is None and fv >= 2 and (
                int(e.get("status") or 0) != STATUS_ADDED):
            # the spec restricts sequence-number INHERITANCE to
            # status=ADDED entries; an EXISTING entry (manifest
            # rewrite/compaction) must carry its original number
            # explicitly — inheriting the rewritten manifest's newer
            # number would inflate data sequence numbers and make
            # equality deletes under-apply. Reject loudly.
            raise _Bad(
                f"manifest entry status={e.get('status')} with null "
                f"sequence_number (inheritance is ADDED-only per spec)")
        df["_seq"] = int(own) if own is not None else mf_seq
        if df.get("first_row_id") is None \
                and e.get("_inherited_frid") is not None:
            df["first_row_id"] = int(e["_inherited_frid"])
        return df

    if content == 1:
        if live and not allow_deletes:
            return [], [], ("table has row-level delete files "
                            "(merge-on-read); this code path cannot "
                            "apply them")
        for e in live:
            try:
                df = _rec(e)
            except _Bad as exc:
                return [], [], str(exc)
            dcontent = int(df.get("content") or 0)
            if dcontent not in (1, 2):
                return [], [], (f"delete manifest entry with data_file."
                                f"content={dcontent} (expected 1 = "
                                f"position / 2 = equality deletes)")
            if dcontent == 2 and not df.get("equality_ids"):
                return [], [], ("equality delete file carries no "
                                "equality_ids; rows cannot be matched")
            fmt = (df.get("file_format") or "PARQUET").upper()
            if fmt == "PUFFIN" and df.get("content_offset") is None:
                return [], [], ("puffin delete file without a v3 DV "
                                "descriptor (content_offset)")
            if fmt not in ("PARQUET", "PUFFIN"):
                return [], [], f"unsupported delete file format {fmt!r}"
            dels.append(df)
        return data, dels, None
    for e in live:
        try:
            df = _rec(e)
        except _Bad as exc:
            return [], [], str(exc)
        fmt = (df.get("file_format") or "PARQUET").upper()
        if fmt not in ("PARQUET", "ORC"):
            # ORC reads through Spark's native reader (name-resolved —
            # see read_iceberg_snapshot); Avro data files stay a loud
            # rejection
            return [], [], f"unsupported data file format {fmt!r}"
        if partition_filter is not None and not partition_filter(
                df.get("partition") or {}):
            continue
        if stats_filter is not None and not stats_filter(
                decoded_column_bounds(meta, df)):
            continue
        data.append(df)
    return data, dels, None


def _parallel_manifest_records(spark: SparkSession,
                               pairs: list[tuple[str, int, int]],
                               meta: dict,
                               partition_filter, stats_filter,
                               allow_deletes: bool) -> list[tuple]:
    """Executor-parallel manifest decode for tables with many manifests
    (SCALE.md's documented upgrade path, built): each worker Avro-decodes
    its share of manifests AND evaluates the partition/stats filters
    there, so the driver's work drops from O(|entries|) decode to
    O(|manifests|) scheduling plus the SURVIVING entries — on a
    million-file table with effective pruning, orders of magnitude less.
    Filters ship via cloudpickle in the closure; results come back as
    pickled record batches (the entry structs are nested/variable —
    a rigid Spark schema would constrain the spec's evolution).
    Local/shared-FS manifest paths only — the caller falls back to the
    driver path for URI schemes the plain ``open()`` can't serve."""
    import pickle

    import pandas as pd  # noqa: F811 — worker-side import parity

    n = max(1, min(len(pairs),
                   spark.sparkContext.defaultParallelism * 2))
    src = spark.createDataFrame(
        pairs, "path string, content int, mf_seq long, mf_frid long")

    def decode(batches):
        from .avro_codec import read_container as rc
        for pdf in batches:
            paths, blobs = [], []
            for path, content, mf_seq, mf_frid in zip(
                    pdf["path"], pdf["content"], pdf["mf_seq"],
                    pdf["mf_frid"]):
                with open(path, "rb") as f:
                    _, entries = rc(f.read())
                paths.append(path)
                blobs.append(pickle.dumps(_sift_entries(
                    int(content), entries, meta, partition_filter,
                    stats_filter, allow_deletes, int(mf_seq),
                    None if pd.isna(mf_frid) else int(mf_frid))))
            yield pd.DataFrame({"path": paths, "blob": blobs})

    rows = (src.repartition(n)
            .mapInPandas(decode, "path string, blob binary").collect())
    # deterministic assembly: key results back to the INPUT manifest
    # order (task completion and partition assignment vary by host), so
    # the returned groups — and the scan path list built from them —
    # are identical to the serial path's
    by_path = {r["path"]: pickle.loads(r["blob"]) for r in rows}
    return [by_path[path] for path, _, _, _ in pairs]


# ---------------------------------------------------------------------------
# schema: Iceberg types -> Spark types with parquet field ids

def _spark_type(t) -> T.DataType:
    if isinstance(t, dict):
        k = t["type"]
        if k == "struct":
            return T.StructType([_field(f) for f in t["fields"]])
        if k == "list":
            return T.ArrayType(_spark_type(t["element"]),
                               not t.get("element-required", False))
        if k == "map":
            return T.MapType(_spark_type(t["key"]), _spark_type(t["value"]),
                             not t.get("value-required", False))
        raise IcebergProtocolError(f"unsupported nested type {k!r}")
    m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if t.startswith("fixed"):
        return T.BinaryType()
    simple = {"boolean": T.BooleanType(), "int": T.IntegerType(),
              "long": T.LongType(), "float": T.FloatType(),
              "double": T.DoubleType(), "date": T.DateType(),
              "string": T.StringType(), "binary": T.BinaryType(),
              "timestamptz": T.TimestampType(),
              "timestamp": T.TimestampNTZType(),
              # Spark has no uuid/time types: serve the spec's logical
              # values — canonical lowercase string for uuid,
              # microseconds-from-midnight long for time (VERDICT r11
              # #6). The jar-less write path stores them physically as
              # parquet string/int64; a FOREIGN file storing uuid as
              # annotated fixed[16] surfaces as a loud Spark parquet
              # schema error, never silent corruption.
              "uuid": T.StringType(),
              "time": T.LongType()}
    if t in simple:
        return simple[t]
    raise IcebergProtocolError(f"unsupported Iceberg type {t!r}")


def _physical_schema_from_mapping(schema_json: dict,
                                  nm: list[dict]) -> T.StructType:
    """The ON-DISK Spark read schema implied by a name-mapping: the
    logical Iceberg schema with each field renamed to its FIRST mapping
    candidate (the physical parquet name), recursively — struct children
    match by field-id, list elements / map keys+values by their
    element/key/value ids. A field with no mapping entry keeps its
    logical name (spec: resolution falls back to the schema name)."""
    def by_id(entries):
        return {int(e["field-id"]): e for e in entries or []
                if "field-id" in e}

    def conv(t_json, entries):
        ids = by_id(entries)
        if isinstance(t_json, dict) and t_json.get("type") == "struct":
            out = []
            for f in t_json["fields"]:
                e = ids.get(int(f["id"]))
                name = (e["names"][0] if e and e.get("names")
                        else f["name"])
                out.append(T.StructField(
                    name, conv(f["type"],
                               (e or {}).get("fields")),
                    not f.get("required", False)))
            return T.StructType(out)
        if isinstance(t_json, dict) and t_json.get("type") == "list":
            e = ids.get(int(t_json["element-id"]))
            return T.ArrayType(
                conv(t_json["element"], (e or {}).get("fields")),
                not t_json.get("element-required", False))
        if isinstance(t_json, dict) and t_json.get("type") == "map":
            ke = ids.get(int(t_json["key-id"]))
            ve = ids.get(int(t_json["value-id"]))
            return T.MapType(
                conv(t_json["key"], (ke or {}).get("fields")),
                conv(t_json["value"], (ve or {}).get("fields")),
                not t_json.get("value-required", False))
        return _spark_type(t_json)

    return conv({"type": "struct", "fields": schema_json["fields"]}, nm)


#: v3 default-value types this reader can materialize as Spark literals
_DEFAULTABLE_TYPES = ("int", "long", "float", "double", "string",
                      "boolean", "date")


def _initial_defaults(schema: dict) -> dict:
    """v3 column defaults: ``{field_id: (name, literal, spark_type)}``
    for every top-level field declaring ``initial-default`` (the value
    rows written before the field existed must read as — spec "Default
    values"). Non-primitive or exotic-typed defaults reject loudly
    rather than serve wrong rows; ``write-default`` alone needs nothing
    from the read path."""
    out: dict[int, tuple] = {}
    for f in schema.get("fields") or []:
        if "initial-default" not in f:
            continue
        t = f.get("type")
        if not isinstance(t, str) or (t not in _DEFAULTABLE_TYPES
                                      and not t.startswith("decimal")):
            raise IcebergProtocolError(
                f"v3 initial-default on field {f.get('name')!r} of type "
                f"{t!r} is not supported (primitive defaults only)")
        out[int(f["id"])] = (f["name"], f["initial-default"],
                             _spark_type(t))
    return out


def _group_by_absent_defaults(spark: SparkSession, table_path: str,
                              paths: list[str],
                              defaults: dict) -> dict:
    """``{frozenset(absent_default_field_ids): [paths]}`` by parquet
    FOOTER inspection: a defaulted field counts as present when the
    footer carries its field id (or its name, for id-less imported
    files). Local filesystems only — the footer read is the per-file
    metadata class."""
    import pyarrow.parquet as papq

    if not _is_local(table_path):
        raise NotImplementedError(
            "v3 initial-default materialization reads parquet footers "
            "(local filesystems only here)")
    groups: dict[frozenset, list[str]] = {}
    for p in paths:
        sch = papq.read_schema(re.sub(r"^file:/+", "/", p))
        present_ids: set[int] = set()
        present_names = set(sch.names)
        for fld in sch:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                present_ids.add(int(fid))
        absent = frozenset(
            fid for fid, (name, _, _) in defaults.items()
            if fid not in present_ids and name not in present_names)
        groups.setdefault(absent, []).append(p)
    return groups


def _field(f: dict) -> T.StructField:
    return T.StructField(f["name"], _spark_type(f["type"]),
                         not f.get("required", False),
                         {"parquet.field.id": int(f["id"])})


def iceberg_spark_schema(meta: dict) -> T.StructType:
    return T.StructType([_field(f) for f in _current_schema(meta)["fields"]])


# ---------------------------------------------------------------------------
# the read surface

#: columns used only while applying position deletes, never surfaced
_POS_KEY, _POS_IDX = "__iceberg_file_key", "__iceberg_row_pos"


def _apply_position_deletes(spark: SparkSession, df: DataFrame,
                            table_path: str, data_files: list[dict],
                            delete_files: list[dict],
                            memo: dict | None = None) -> DataFrame:
    """Anti-join the scan (carrying ``_POS_KEY`` + ``_POS_IDX``) against
    the position-delete parquet files' ``(file_path, pos)`` pairs.

    Scale: the delete side is a plain executor parquet scan — never
    collected, never decoded on the driver (unlike Delta DVs there is no
    bitmap codec; Iceberg's delete representation IS parquet). Under
    ``DV_ANTIJOIN_MAX_ROWS`` total cardinality (from the manifests'
    record_count — metadata, free) the delete side is broadcast so the
    fact scan takes zero shuffle; above it the anti-join shuffles both
    sides on (file_key, pos), which is exactly as parallel as the data.

    The delete rows' stored ``file_path`` strings and the scan's file
    URIs meet on the shared file key (``delta_log._file_key``), so a
    delete reaches only the file it names.

    Sequence-number scoping (a position delete applies only to data files
    committed no later than it) is safe to skip for the path-equality
    join: real engines never re-add a row file under a path that a live
    delete file already references — file names embed UUIDs."""
    from pyspark.sql import functions as F

    dels, cardinality = _position_delete_pairs(spark, table_path,
                                               delete_files, memo)
    if dels is None:
        return df
    from .delta_log import DV_ANTIJOIN_MAX_ROWS
    if cardinality <= DV_ANTIJOIN_MAX_ROWS:
        dels = F.broadcast(dels)
    return df.join(dels, [_POS_KEY, _POS_IDX], "left_anti")


def _position_delete_pairs(spark: SparkSession, table_path: str,
                           delete_files: list[dict],
                           memo: dict | None = None):
    """``((POS_KEY, POS_IDX) pairs DataFrame | None, manifest
    cardinality)`` for position-delete files — parquet delete scans plus
    expanded puffin DVs. Shared by the anti-join filter
    (``_apply_position_deletes``) and the r15 flag twin
    (``_mark_row_deletes``). ``memo`` (per change-feed) reuses the frame
    when the same delete set recurs — adjacent MoR steps share delete
    files, and each DataFrameReader round-trip costs a driver-side
    ~50 ms; the explicit read schema likewise skips the footer-sniffing
    schema inference (the spec fixes position-delete columns)."""
    from pyspark.sql import functions as F

    key = None
    if memo is not None:
        key = tuple(sorted(
            (str(f.get("file_path")), f.get("content_offset"),
             f.get("content_size_in_bytes")) for f in delete_files))
        if key in memo:
            return memo[key]
    dvs = [f for f in delete_files if f.get("content_offset") is not None]
    pq_dels = [f for f in delete_files
               if f.get("content_offset") is None]
    cardinality = sum(int(f.get("record_count") or 0)
                      for f in delete_files)
    parts = []
    if pq_dels:
        dpaths = sorted({_resolve_path(table_path, f["file_path"])
                         for f in pq_dels})
        parts.append(
            spark.read.schema("file_path string, pos bigint")
            .parquet(*dpaths)
            .select(_stored_file_key_col(spark, table_path,
                                         F.col("file_path")).alias(_POS_KEY),
                    F.col("pos").cast("long").alias(_POS_IDX)))
    if dvs:
        # v3 puffin DELETION VECTORS: decode the bitmaps driver-side
        # (descriptor bytes — the Delta-DV metadata class, KB per file;
        # record_count bounds the expanded rows) and anti-join the
        # expanded (file, pos) pairs exactly like parquet deletes
        import numpy as np
        import pyarrow as pa

        from . import delta_dv

        fkeys: list[str] = []
        idx_parts = []
        for fkey, blob in _puffin_dv_blobs(spark, table_path, dvs):
            dead = delta_dv.deserialize_bitmap_array(blob)
            fkeys.extend([fkey] * dead.size)
            idx_parts.append(dead)
        if fkeys:
            parts.append(local_frame(spark, pa.table({
                _POS_KEY: pa.array(fkeys, pa.string()),
                _POS_IDX: np.concatenate(idx_parts)}),
                f"{_POS_KEY} string, {_POS_IDX} long"))
    if not parts:
        out = (None, cardinality)
    else:
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        out = (dels, cardinality)
    if memo is not None:
        memo[key] = out
    return out


def _puffin_dv_blobs(spark: SparkSession | None, table_path: str,
                     dvs: list[dict]) -> list[tuple[str, bytes]]:
    """``(file key of the referenced data file, serialized bitmap)`` per
    v3 deletion-vector descriptor; each puffin file is read once."""
    from .puffin import read_puffin_blob

    cache: dict[str, bytes] = {}
    out = []
    for d in dvs:
        ppath = _resolve_path(table_path, d["file_path"])
        if ppath not in cache:
            cache[ppath] = _read_bytes(spark, ppath)
        out.append((_stored_file_key(spark, table_path,
                                     d["referenced_data_file"]),
                    read_puffin_blob(cache[ppath], int(d["content_offset"]),
                                     int(d["content_size_in_bytes"]))))
    return out


def _need_positions(files: list[dict], what: str) -> None:
    """Refuse ``what`` over ORC data files: it addresses rows by
    position, and Spark's ORC reader emits no ``_metadata.row_index``."""
    if any((f.get("file_format") or "PARQUET").upper() == "ORC"
           for f in files):
        raise IcebergProtocolError(
            f"{what} over ORC data files: row positions need "
            f"_metadata.row_index, which Spark's ORC reader does not emit")


def _apply_equality_deletes(spark: SparkSession, df: DataFrame,
                            table_path: str, data_files: list[dict],
                            eq_files: list[dict], meta: dict) -> DataFrame:
    """Apply EQUALITY delete files (content=2): a data row is deleted
    when its values on the delete file's ``equality_ids`` columns
    null-safe-equal any delete row AND the data file's sequence number
    is STRICTLY LESS than the delete file's — the v2 strictly-older
    rule, which is what lets a row re-inserted AFTER the delete survive
    (CDC upsert semantics). Delete files group by their equality_ids
    set; each group is one anti-join with the sequence comparison in
    the join condition. The delete side is an executor parquet scan
    (broadcast under the DV cardinality threshold), never collected —
    equality deletes are typically CDC-sized, but nothing here requires
    it."""
    from pyspark.sql import functions as F

    from .delta_log import DV_ANTIJOIN_MAX_ROWS

    # per-row DATA sequence number, attached from a broadcast
    # file-key -> seq map
    out = df.join(F.broadcast(_data_seq_map(spark, table_path,
                                            data_files)),
                  _POS_KEY, "left")
    for names, dels, cardinality in _equality_delete_groups(
            spark, table_path, eq_files, meta):
        if cardinality <= DV_ANTIJOIN_MAX_ROWS:
            dels = F.broadcast(dels)
        cond = dels["__iceberg_del_seq"] > F.coalesce(
            out["__iceberg_data_seq"], F.lit(0))
        for n in names:
            cond = cond & out[n].eqNullSafe(dels[f"__del_{n}"])
        out = out.join(dels, cond, "left_anti")
    return out.drop("__iceberg_data_seq")


def _data_seq_map(spark: SparkSession, table_path: str,
                  data_files: list[dict]) -> DataFrame:
    seq_rows = [(_stored_file_key(spark, table_path, f["file_path"]),
                 int(f.get("_seq") or 0)) for f in data_files]
    return local_frame(
        spark, seq_rows, f"{_POS_KEY} string, __iceberg_data_seq long")


def _equality_groups(eq_files: list[dict]) -> dict[tuple, list[dict]]:
    """Equality delete files by their sorted ``equality_ids``."""
    groups: dict[tuple, list[dict]] = {}
    for d in eq_files:
        groups.setdefault(tuple(sorted(int(i) for i in d["equality_ids"])),
                          []).append(d)
    return groups


def _equality_fields(meta: dict, ids: tuple) -> list[dict]:
    """The current schema's fields for equality ``ids``: top-level
    primitive fields only, anything else rejects loudly."""
    by_id = {int(f["id"]): f for f in _current_schema(meta)["fields"]
             if isinstance(f["type"], str)}
    missing = [i for i in ids if i not in by_id]
    if missing:
        raise IcebergProtocolError(
            f"equality_ids reference unknown/nested field ids {missing}")
    return [by_id[i] for i in ids]


def _equality_delete_groups(spark: SparkSession, table_path: str,
                            eq_files: list[dict], meta: dict) -> list:
    """``[(key column names, delete-rows DataFrame, cardinality)]`` per
    equality-ids group — each frame carries ``__del_<name>`` key columns
    plus ``__iceberg_del_seq``. Shared by the anti-join filter
    (``_apply_equality_deletes``) and the r15 flag twin."""
    from pyspark.sql import functions as F

    out = []
    for ids, dfiles in sorted(_equality_groups(eq_files).items()):
        sub_fields = _equality_fields(meta, ids)
        names = [f["name"] for f in sub_fields]
        sub_schema = T.StructType([_field(f) for f in sub_fields])
        dpaths = sorted({_resolve_path(table_path, d["file_path"])
                         for d in dfiles})
        dseq_rows = [(_stored_file_key(spark, table_path, d["file_path"]),
                      int(d.get("_seq") or 0)) for d in dfiles]
        dseq_map = local_frame(
            spark, dseq_rows,
            "__iceberg_del_key string, __iceberg_del_seq long")
        dels = (spark.read.schema(sub_schema).parquet(*dpaths)
                .select(*[F.col(n).alias(f"__del_{n}") for n in names],
                        _file_key_col(F.col("_metadata.file_path"))
                        .alias("__iceberg_del_key"))
                .join(F.broadcast(dseq_map), "__iceberg_del_key")
                .drop("__iceberg_del_key"))
        cardinality = sum(int(d.get("record_count") or 0)
                          for d in dfiles)
        out.append((names, dels, cardinality))
    return out


def _mark_row_deletes(spark: SparkSession, keyed: DataFrame,
                      table_path: str, data_files: list[dict],
                      deletes: list[dict], meta: dict,
                      flag: str, memo: dict | None = None) -> DataFrame:
    """LEFT-join FLAG twin of ``_apply_row_deletes`` (r15): appends a
    boolean column ``flag`` — "this row is dead under ``deletes``" —
    instead of filtering. The change-feed's merge-on-read step diffs TWO
    snapshots' aliveness over ONE scan of their common files, so it
    needs both kill sets as columns; the filter form would force two
    full effective scans plus two table-state anti-joins on row identity
    (the r14 shape this replaces).

    Duplicate-safe by construction (a LEFT join must not multiply data
    rows): the position side joins DISTINCT (file key, pos) pairs; each
    equality group pre-aggregates MAX(delete seq) per distinct key tuple
    — a strictly-newer delete exists iff the max is newer. Same
    mechanism semantics as the filter twin: kill = position match OR any
    equality group's null-safe key match with delete seq > data seq."""
    from pyspark.sql import functions as F

    from .delta_log import DV_ANTIJOIN_MAX_ROWS

    pos = [d for d in deletes if int(d.get("content") or 0) == 1]
    eq = [d for d in deletes if int(d.get("content") or 0) == 2]
    out = keyed.withColumn(flag, F.lit(False))
    if pos:
        dels, cardinality = _position_delete_pairs(spark, table_path, pos,
                                                   memo)
        if dels is not None:
            dels = dels.distinct().withColumn(f"__hit_{flag}", F.lit(True))
            if cardinality <= DV_ANTIJOIN_MAX_ROWS:
                dels = F.broadcast(dels)
            out = (out.join(dels, [_POS_KEY, _POS_IDX], "left")
                   .withColumn(flag, F.col(flag)
                               | F.coalesce(F.col(f"__hit_{flag}"),
                                            F.lit(False)))
                   .drop(f"__hit_{flag}"))
    if eq:
        seq_col = f"__iceberg_data_seq_{flag}"
        out = out.join(
            F.broadcast(_data_seq_map(spark, table_path, data_files)
                        .withColumnRenamed("__iceberg_data_seq", seq_col)),
            _POS_KEY, "left")
        for gi, (names, dels, cardinality) in enumerate(
                _equality_delete_groups(spark, table_path, eq, meta)):
            mx = f"__mx_{flag}_{gi}"
            keyed_dels = (dels.groupBy(*[f"__del_{n}" for n in names])
                          .agg(F.max("__iceberg_del_seq").alias(mx)))
            if cardinality <= DV_ANTIJOIN_MAX_ROWS:
                keyed_dels = F.broadcast(keyed_dels)
            cond = None
            for n in names:
                c = out[n].eqNullSafe(keyed_dels[f"__del_{n}"])
                cond = c if cond is None else (cond & c)
            out = (out.join(keyed_dels, cond, "left")
                   .withColumn(flag, F.col(flag)
                               | F.coalesce(
                                   F.col(mx) > F.coalesce(F.col(seq_col),
                                                          F.lit(0)),
                                   F.lit(False)))
                   .drop(mx, *[f"__del_{n}" for n in names]))
        out = out.drop(seq_col)
    return out


def _apply_row_deletes(spark: SparkSession, keyed: DataFrame,
                       table_path: str, data_files: list[dict],
                       deletes: list[dict], meta: dict,
                       drop_helpers: bool = True,
                       memo: dict | None = None) -> DataFrame:
    """Dispatch position (content=1) and equality (content=2) delete
    files over a scan carrying ``_POS_KEY``/``_POS_IDX``; drops the
    helper columns unless the caller still needs the row identity (the
    change-feed diff does). Both attribute delete rows to data files by
    the full file key ``_POS_KEY``."""
    _need_positions(data_files, "merge-on-read")
    pos = [d for d in deletes if int(d.get("content") or 0) == 1]
    eq = [d for d in deletes if int(d.get("content") or 0) == 2]
    out = keyed
    if pos:
        out = _apply_position_deletes(spark, out, table_path, data_files,
                                      pos, memo)
    if eq:
        out = _apply_equality_deletes(spark, out, table_path, data_files,
                                      eq, meta)
    return out.drop(_POS_KEY, _POS_IDX) if drop_helpers else out


def read_iceberg_snapshot(spark: SparkSession, table_path: str,
                          snapshot_id: int | None = None,
                          partition_filter=None,
                          stats_filter=None,
                          ref: str | None = None) -> DataFrame:
    """Table state at ``snapshot_id`` (default: current snapshot) — the
    Iceberg analogue of ``read_delta_snapshot``. ``ref`` time-travels by
    branch/tag name instead (``VERSION AS OF 'audit-2024'``), resolved
    through the metadata ``refs`` map. One parquet scan over the
    snapshot's live files, columns resolved BY FIELD ID (renames in the
    table's schema history are transparent). ``partition_filter`` prunes
    at the METADATA level (see ``live_data_files``); unlike Delta, the
    data files CONTAIN the identity-partition columns, so no value
    re-attachment is needed — keep the row-level predicate on the result,
    pruning is an optimization. Merge-on-read snapshots (live position
    delete files) are resolved by ``_apply_position_deletes``; metadata
    pruning composes — a delete row whose data file was pruned simply
    never matches the anti-join.

    SESSION-WIDE side effect (same trade-off as the Delta id-mode read,
    ``delta_log.py`` ``_scan_files``): the scan is LAZY, so
    ``spark.sql.parquet.fieldId.read.enabled`` must still hold at
    execution time and cannot be save/restored around this call — after
    the first Iceberg read it stays on for the session. The switch only
    activates for read schemas that CARRY field ids, so ordinary reads
    are unaffected; an id-annotated schema later reused against id-LESS
    foreign parquet files will error by id instead of silently matching
    by name."""
    meta = read_table_metadata(spark, table_path)
    table_path = iceberg_table_root(table_path, meta)
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR ref, not both")
        # branch/tag time travel: a ref is just a named snapshot pointer
        snapshot_id = _resolve_ref(meta, ref)
    deletes: list[dict] = []
    files = live_data_files(spark, table_path, meta, snapshot_id,
                            partition_filter=partition_filter,
                            stats_filter=stats_filter,
                            deletes_out=deletes)
    if not files:
        return local_frame(spark, [], iceberg_spark_schema(meta))
    scan = _scan_data_files(spark, table_path, meta, files,
                            keyed=bool(deletes))
    if not deletes:
        return scan
    return _apply_row_deletes(spark, scan, table_path, files, deletes,
                              meta).drop(_PROV_F)


def _scan_data_files(spark: SparkSession, table_path: str, meta: dict,
                     files: list[dict], keyed: bool = False) -> DataFrame:
    """One scan over ``files`` in the current schema: columns resolved by
    field id (by name under a name mapping), v3 ``initial-default``
    literals for files written before their column, and identity
    partition values from the manifests for imported files. ``keyed``
    adds each row's file URI (``_PROV_F``), file key (``_POS_KEY``) and
    position (``_POS_IDX``) — the row identity row deletes and DML
    address — taken inside each per-format and per-default group before
    the union, since a union carries no ``_metadata``. ORC rows carry a
    NULL position: whatever addresses rows by position refuses ORC files
    first (``_need_positions``)."""
    from pyspark.sql import functions as F

    def _fmt(f: dict) -> str:
        return (f.get("file_format") or "PARQUET").upper()

    orc_paths = sorted(_resolve_path(table_path, f["file_path"])
                       for f in files if _fmt(f) == "ORC")
    pq_paths = [_resolve_path(table_path, f["file_path"])
                for f in files if _fmt(f) != "ORC"]
    schema = iceberg_spark_schema(meta)
    name_mapped = bool((meta.get("properties") or {}).get(
        "schema.name-mapping.default"))
    if name_mapped:
        # imported/UniForm-synced data files carry NO Iceberg field ids:
        # the spec's name-mapping fallback resolves them BY NAME — strip
        # the id annotations (RECURSIVELY: a nested field's id would
        # still trip Spark's fieldId matching) so the parquet reader
        # matches names (an id-annotated schema over id-less files
        # errors by design)
        def _strip(dt):
            if isinstance(dt, T.StructType):
                return T.StructType([
                    T.StructField(f.name, _strip(f.dataType), f.nullable)
                    for f in dt.fields])
            if isinstance(dt, T.ArrayType):
                return T.ArrayType(_strip(dt.elementType),
                                   dt.containsNull)
            if isinstance(dt, T.MapType):
                return T.MapType(_strip(dt.keyType),
                                 _strip(dt.valueType),
                                 dt.valueContainsNull)
            return dt

        schema = _strip(schema)
    # name-mapping candidates may differ from the logical names (Delta
    # column mapping: the on-disk PHYSICAL name leads the list) — read
    # under the first candidate AT EVERY NESTING LEVEL, then cast back
    # to the logical struct (positional struct cast renames nested
    # fields in one JVM expression; _metadata stays resolvable through
    # the projection).
    logical_schema = schema
    rename = False
    if name_mapped:
        nm = json.loads((meta.get("properties") or {})[
            "schema.name-mapping.default"])
        phys_schema = _physical_schema_from_mapping(
            _current_schema(meta), nm)
        if phys_schema != schema:
            rename = True
            schema = phys_schema
    defaults = _initial_defaults(_current_schema(meta))
    if defaults and orc_paths:
        raise IcebergProtocolError(
            "v3 initial-default over ORC data files is not supported "
            "(per-file field presence needs parquet footers)")
    if rename and defaults:
        raise IcebergProtocolError(
            "initial-default over physically-renamed (name-mapped) "
            "files is not supported in one table")
    ident = ([F.col("_metadata.file_path").alias(_PROV_F),
              F.col("_metadata.row_index").alias(_POS_IDX)]
             if keyed else [])
    parts = []
    if pq_paths or not orc_paths:     # no files: one empty parquet scan
        if not name_mapped:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                           "true")
        # v3 column defaults: ``initial-default`` is the value of a field
        # for every row written BEFORE the field existed — i.e. for data
        # files whose footer carries neither the field id nor the name.
        # Group the scan by the set of absent defaulted fields and
        # materialize the literals per group (per-file FOOTER reads —
        # the same metadata class as the stats/bounds work, never
        # data-bounded).
        groups = (_group_by_absent_defaults(spark, table_path, pq_paths,
                                            defaults)
                  if defaults and pq_paths else {frozenset(): pq_paths})
        for absent, group in sorted(groups.items()):
            part = spark.read.schema(schema).parquet(*group) \
                .select("*", *ident)
            for fid in sorted(absent):
                name, lit_v, dt = defaults[fid]
                part = part.withColumn(name, F.lit(lit_v).cast(dt))
            parts.append(part)
    if orc_paths:
        # Spark's native ORC reader resolves columns BY NAME (no
        # field-id matching like parquet's fieldId.read) — correct for
        # tables whose ORC files carry the current column names; a
        # renamed-column history over ORC files would need id
        # resolution and is out of scope (parquet files in the same
        # table keep full id resolution)
        parts.append(spark.read.schema(schema).orc(orc_paths).select(
            "*", *ident[:1],
            *([F.lit(None).cast("long").alias(_POS_IDX)] if keyed else [])))
    scan = parts[0]
    for p in parts[1:]:
        scan = scan.unionByName(p)
    if rename:
        # back to logical: positional struct cast renames every nesting
        # level in one shot (_metadata stays resolvable for the
        # partition re-attach below — empirically pinned by the
        # column-mapped read tests)
        scan = scan.select(*[
            F.col(p.name).cast(lf.dataType).alias(lf.name)
            for p, lf in zip(schema.fields, logical_schema.fields)],
            *([_PROV_F, _POS_IDX] if keyed else []))
        schema = logical_schema
    if name_mapped:
        # identity-partition values are METADATA-authoritative for
        # imported files (spec: readers use partition metadata for
        # identity transforms) — the Delta/hive layout UniForm syncs
        # does not store partition columns in the data files at all,
        # so they read back NULL by name; re-attach from the manifest
        # partition structs (broadcast map join on the file key, the
        # same shape as delta_log._attach_partition_columns)
        id_names = _identity_partition_names(meta) or []
        in_schema = [n for n in id_names
                     if n in {f.name for f in schema.fields}]
        if in_schema:
            key_rows = [
                (_stored_file_key(spark, table_path, f["file_path"]),
                 *[(None if (f.get("partition") or {}).get(n) is None
                    else str((f.get("partition") or {}).get(n)))
                   for n in in_schema])
                for f in files]
            kschema = T.StructType(
                [T.StructField("__ice_fkey", T.StringType())]
                + [T.StructField(f"__pv_{n}", T.StringType())
                   for n in in_schema])
            pv_df = local_frame(spark, key_rows, kschema)
            typed = {f.name: f.dataType for f in schema.fields}
            scan = (scan.withColumn(
                "__ice_fkey",
                _file_key_col(F.col("_metadata.file_path")))
                .join(F.broadcast(pv_df), "__ice_fkey", "left"))
            for n in in_schema:
                scan = scan.withColumn(
                    n, F.col(f"__pv_{n}").cast(typed[n]))
            scan = scan.drop("__ice_fkey",
                             *[f"__pv_{n}" for n in in_schema])
    if keyed:
        scan = scan.withColumn(_POS_KEY, _file_key_col(F.col(_PROV_F)))
    return scan


def resolve_iceberg_snapshot_at(meta: dict, ts_ms: int) -> int:
    """``TIMESTAMP AS OF`` resolution: the LATEST snapshot whose
    timestamp-ms <= ts (Iceberg's time-travel rule). Errors when ts
    predates the earliest retained snapshot — expired history resolves
    loudly, never silently serves a later state."""
    snaps = sorted(meta.get("snapshots") or [],
                   key=lambda s: int(s.get("timestamp-ms") or 0))
    if not snaps:
        raise FileNotFoundError("table has no snapshots")
    at = [s for s in snaps if int(s.get("timestamp-ms") or 0) <= ts_ms]
    if not at:
        raise ValueError(
            f"timestamp {ts_ms} is before the earliest retained "
            f"snapshot ({snaps[0].get('timestamp-ms')})")
    return int(at[-1]["snapshot-id"])


def read_iceberg_snapshot_at_timestamp(spark: SparkSession,
                                       table_path: str, ts_ms: int,
                                       partition_filter=None) -> DataFrame:
    """``TIMESTAMP AS OF`` through the metadata snapshot log — the
    Iceberg twin of ``read_delta_snapshot_at_timestamp``."""
    meta = read_table_metadata(spark, table_path)
    sid = resolve_iceberg_snapshot_at(meta, ts_ms)
    return read_iceberg_snapshot(spark, table_path, snapshot_id=sid,
                                 partition_filter=partition_filter)


def iceberg_snapshot_ids(spark: SparkSession, table_path: str) -> list[dict]:
    """(snapshot-id, timestamp-ms) history, oldest first."""
    meta = read_table_metadata(spark, table_path)
    return [{"snapshot_id": s.get("snapshot-id"),
             "timestamp_ms": s.get("timestamp-ms")}
            for s in sorted(meta.get("snapshots") or [],
                            key=lambda s: s.get("timestamp-ms") or 0)]


# ---------------------------------------------------------------------------
# minimal staging writer (the delta write_delta_table counterpart): exists
# so the reader can be exercised — and driver-attested — against real
# Iceberg layouts built from the test tables. Single-writer, local-FS,
# append-only commits; production writes stay in the Delta/parquet sinks.

_BOUNDS_AVRO = ["null", {"type": "array", "items": {
    "type": "record", "name": "kv_bounds", "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "bytes"}]}}]


def _manifest_entry_schema(partition_fields: list[dict] | None = None):
    """Spec-shaped manifest_entry Avro schema; ``partition`` is the r102
    struct with one field per partition-spec field (identity transforms:
    source-column values); lower/upper_bounds are the int-keyed binary
    maps (spec Avro layout: arrays of key/value records) data skipping
    reads. Unpartitioned tables carry an empty struct."""
    part_fields = [{"name": f["name"], "type": ["null", f["avro_type"]]}
                   for f in (partition_fields or [])]
    import copy
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102",
                        "fields": part_fields}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds",
                     "type": copy.deepcopy(_BOUNDS_AVRO)},
                    {"name": "upper_bounds", "type": [
                        "null", {"type": "array", "items": "kv_bounds"}]},
                    {"name": "equality_ids", "type": [
                        "null", {"type": "array", "items": "int"}]},
                    # v3 deletion vectors (puffin): a content=1 entry
                    # with these set is a DV, not a position-delete
                    # parquet (null for every v2 layout)
                    {"name": "referenced_data_file",
                     "type": ["null", "string"]},
                    {"name": "content_offset", "type": ["null", "long"]},
                    {"name": "content_size_in_bytes",
                     "type": ["null", "long"]},
                    # v3 row lineage: the file's first fresh row id
                    # (row i of the file has id first_row_id + i)
                    {"name": "first_row_id", "type": ["null", "long"]},
                ]}},
            {"name": "sequence_number", "type": ["null", "long"]},
        ]}


#: unpartitioned form (tests and the delete-manifest fixtures use this)
_MANIFEST_ENTRY_SCHEMA = _manifest_entry_schema()

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        # v2 sequence numbers: entries with null sequence_number INHERIT
        # the manifest's — the strictly-older rule equality deletes
        # apply by (older staged layouts decode as null -> seq 0)
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "min_sequence_number", "type": ["null", "long"]},
        # v3 row lineage: the manifest's assigned first-row-id — null
        # entry-level first_row_id values INHERIT from it by position
        # (spec "Row Lineage" assignment); carried so prior manifests
        # forwarded through append_iceberg keep their assignment
        {"name": "first_row_id", "type": ["null", "long"]},
    ]}


def _encode_bound(value, ice_type: str) -> bytes | None:
    """Inverse of ``_bound_value`` (spec Appendix D, little-endian)."""
    import struct as _struct

    if value is None:
        return None
    if ice_type == "int":
        return _struct.pack("<i", int(value))
    if ice_type == "long":
        return _struct.pack("<q", int(value))
    if ice_type == "float":
        return _struct.pack("<f", float(value))
    if ice_type == "double":
        return _struct.pack("<d", float(value))
    if ice_type == "string":
        return str(value).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "time":
        return _struct.pack("<q", int(value))
    if ice_type == "uuid":
        import uuid as _uuid_mod
        try:
            return _uuid_mod.UUID(str(value)).bytes
        except ValueError:
            return None
    return None


def _footer_bounds(parquet_path: str,
                   name_to_field: dict[str, tuple[int, str]]) -> tuple:
    """(lower_bounds, upper_bounds) kv-record lists from the parquet
    footer min/max stats — so staged tables are data-skipping-capable
    exactly like the Delta staging writer's stats JSON."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(parquet_path).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if name not in name_to_field:
                continue
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
            except Exception:  # noqa: BLE001 — pyarrow raises for some types
                continue
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    lo_list, hi_list = [], []
    for name in mins:
        fid, t = name_to_field[name]
        lo_b = _encode_bound(mins[name], t)
        hi_b = _encode_bound(maxs[name], t)
        if lo_b is not None and hi_b is not None:
            lo_list.append({"key": fid, "value": lo_b})
            hi_list.append({"key": fid, "value": hi_b})
    return (sorted(lo_list, key=lambda r: r["key"]),
            sorted(hi_list, key=lambda r: r["key"]))


def _transform_col(transform: str, ice_type: str):
    """Arrow-batched column expression computing ``apply_transform`` for
    the staging writer's slicing — the SAME python math the reader's
    pruning bounds use, so the two sides cannot drift."""
    from pyspark.sql.functions import pandas_udf

    out_type = ("string" if (transform.startswith("truncate")
                             and ice_type == "string") else "long")

    @pandas_udf(out_type)
    def f(s):
        return s.map(lambda v: None if v is None
                     else apply_transform(transform, v, ice_type))
    return f


def _iceberg_field(i: int, spark_field) -> dict:
    t = spark_field.dataType
    simple = {"bigint": "long", "long": "long", "int": "int",
              "integer": "int", "smallint": "int", "tinyint": "int",
              "double": "double", "float": "float", "string": "string",
              "boolean": "boolean", "date": "date", "binary": "binary",
              "timestamp": "timestamptz", "timestamp_ntz": "timestamp"}
    key = t.simpleString()
    if key not in simple:
        raise IcebergProtocolError(
            f"staging writer supports flat primitive schemas; got {key}")
    return {"id": i, "name": spark_field.name, "required": False,
            "type": simple[key]}


def _part_avro_fields(schema_fields: list[dict],
                      partition_by=(), partition_transforms=()) -> list:
    """Partition-field descriptors for the staging/append writers:
    identity columns first, then transform fields. Raises on source
    columns absent from the schema."""
    by_name = {f["name"]: f for f in schema_fields}
    srcs = list(partition_by) + [t[2] for t in partition_transforms]
    missing = [c for c in srcs if c not in by_name]
    if missing:
        raise ValueError(f"partition columns {missing} absent")
    _avro_of = {"long": "long", "int": "int", "double": "double",
                "float": "float", "string": "string",
                "boolean": "boolean"}
    return [
        {"name": c, "source_id": by_name[c]["id"],
         "avro_type": _avro_of.get(by_name[c]["type"], "string"),
         "transform": "identity"}
        for c in partition_by] + [
        {"name": name, "source_id": by_name[src]["id"],
         "avro_type": ("string" if (transform.startswith("truncate")
                       and by_name[src]["type"] == "string")
                       else "long"),
         "transform": transform, "source_col": src}
        for name, transform, src in partition_transforms]


def _default_spec_part_fields(meta: dict, schema_fields: list[dict],
                              spec_id: int | None = None):
    """(spec-id, partition avro fields) of partition spec ``spec_id``
    (default: the table's default spec) — the staging machinery every
    writer shares. An unknown spec id reads as unpartitioned."""
    sid = meta.get("default-spec-id", 0) if spec_id is None else spec_id
    spec = next((sp for sp in (meta.get("partition-specs") or [])
                 if sp.get("spec-id", 0) == sid), {"fields": []})
    src_by_id = {int(f["id"]): f for f in schema_fields}
    part_by, transforms = [], []
    for f in spec.get("fields") or []:
        src_name = src_by_id[int(f["source-id"])]["name"]
        tr = f.get("transform") or "identity"
        if tr == "identity":
            part_by.append(src_name)
        else:
            transforms.append((f["name"], tr, src_name))
    return sid, _part_avro_fields(schema_fields, part_by, transforms)


def _stage_commit(spark: SparkSession, df: DataFrame, root: str,
                  schema_fields: list[dict],
                  part_avro_fields: list[dict], snap_id: int,
                  tag: str, file_format: str = "parquet") -> list[dict]:
    """Stage one commit's data files under ``<root>/data`` and return its
    manifest entries: one slice per partition tuple (identity values or
    ``apply_transform`` outputs — the SAME math the reader's pruning
    evaluates, so writer and pruner cannot drift), footer-derived
    lower/upper bounds on every entry, and real record counts. ``tag``
    must be writer-unique (racing appenders embed a uuid) so staged file
    names never collide."""
    from pyspark.sql import functions as F

    if any(not isinstance(f["type"], str) for f in schema_fields):
        raise IcebergProtocolError(
            "writes support flat primitive schemas")
    ddir = os.path.join(root, "data")
    os.makedirs(ddir, exist_ok=True)
    by_name = {f["name"]: f for f in schema_fields}
    name_to_field = {f["name"]: (f["id"], f["type"])
                     for f in schema_fields}
    with_ids = df.select(*[
        F.col(f["name"]).alias(f["name"],
                               metadata={"parquet.field.id": f["id"]})
        for f in schema_fields])
    entries: list[dict] = []

    ext = file_format.lower()
    if ext not in ("parquet", "orc"):
        raise ValueError(f"file_format {file_format!r}: parquet or orc")

    def _stage_slice(slice_df, partition: dict, slice_tag: str) -> None:
        import pyarrow.parquet as pq

        staging = os.path.join(root, f"_staging_{tag}{slice_tag}")
        getattr(slice_df.write.mode("overwrite"), ext)(staging)
        for i, name in enumerate(sorted(
                n for n in os.listdir(staging)
                if n.endswith(f".{ext}"))):
            target = os.path.join(
                ddir, f"{tag}{slice_tag}-{i:05d}.{ext}")
            os.replace(os.path.join(staging, name), target)
            if ext == "orc":
                import pyarrow.orc as po
                nrows = po.ORCFile(target).nrows
                lo_b, hi_b = {}, {}   # ORC: no footer bounds decoded —
                #                       entries stay unskippable (safe)
            else:
                nrows = pq.ParquetFile(target).metadata.num_rows
                lo_b, hi_b = _footer_bounds(target, name_to_field)
            entries.append({
                "status": STATUS_ADDED, "snapshot_id": snap_id,
                "data_file": {
                    "content": 0, "file_path": target,
                    "file_format": ext.upper(),
                    "partition": partition,
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(target),
                    "lower_bounds": lo_b or None,
                    "upper_bounds": hi_b or None}})
        import shutil
        shutil.rmtree(staging, ignore_errors=True)

    identity = [f["name"] for f in part_avro_fields
                if f.get("transform", "identity") == "identity"]
    transforms = [f for f in part_avro_fields
                  if f.get("transform", "identity") != "identity"]
    if identity and transforms:
        raise IcebergProtocolError(
            "mixed identity+transform partition specs are not staged")
    if identity:
        # one slice per partition value: iceberg data files CONTAIN the
        # partition columns, so hive-style partitionBy (which drops
        # them) cannot be used — gate-scale loop by design
        values = [tuple(r) for r in
                  df.select(*identity).distinct().collect()]
        for j, vals in enumerate(sorted(values, key=str)):
            cond = None
            for c, val in zip(identity, vals):
                piece = (F.col(c).isNull() if val is None
                         else (F.col(c) == F.lit(val)))
                cond = piece if cond is None else (cond & piece)
            _stage_slice(with_ids.filter(cond),
                         dict(zip(identity, vals)), f"-p{j:03d}")
    elif transforms:
        # derive the transform OUTPUT per row (Arrow-batched), then
        # slice per distinct output tuple
        der = with_ids
        pt_cols = []
        for j, f in enumerate(transforms):
            src = f.get("source_col") or f["name"]
            der = der.withColumn(
                f"__pt{j}", _transform_col(
                    f["transform"], by_name[src]["type"])(F.col(src)))
            pt_cols.append(f"__pt{j}")
        values = [tuple(r) for r in der.select(*pt_cols).distinct()
                  .collect()]
        names = [f["name"] for f in transforms]
        for j, vals in enumerate(sorted(values, key=str)):
            cond = None
            for c, val in zip(pt_cols, vals):
                piece = (F.col(c).isNull() if val is None
                         else (F.col(c) == F.lit(val)))
                cond = piece if cond is None else (cond & piece)
            _stage_slice(der.filter(cond).drop(*pt_cols),
                         dict(zip(names, vals)), f"-t{j:03d}")
    else:
        _stage_slice(with_ids, {}, "")
    return entries


def write_iceberg_table(spark: SparkSession, commits: list[DataFrame],
                        table_path: str,
                        base_ts_ms: int = 1700000000000,
                        partition_by: list[str] | tuple[str, ...] = (),
                        partition_transforms: list[tuple[str, str, str]]
                        | tuple = (),
                        file_format: str | list[str] = "parquet") -> str:
    """Create a spec-conformant Iceberg v2 table: each DataFrame becomes
    one append snapshot (vN metadata + manifest list + one manifest).
    ``partition_by`` declares an IDENTITY partition spec: data files are
    written per partition value (Iceberg files CONTAIN the partition
    columns, unlike hive layouts) and each manifest entry carries the
    r102 partition struct — the input to metadata-level pruning.
    ``partition_transforms`` declares a NON-IDENTITY spec instead: each
    ``(field_name, transform, source_col)`` (``days``/``bucket[N]``/
    ``truncate[W]``/...) slices files by the spec's ``apply_transform``
    output and stores that output in the partition struct — the layout
    ``iceberg_source_range_filter`` prunes against.
    SCOPE: a single-writer STAGING utility, local filesystems only —
    the Iceberg twin of ``delta_log.write_delta_table``; the per-value
    staging loop is gate-scale by design. ``append_iceberg`` is the
    transactional (CAS-committed) append for live tables."""
    if partition_by and partition_transforms:
        raise ValueError("pass partition_by or partition_transforms, "
                         "not both")
    fmts = (list(file_format) if isinstance(file_format, (list, tuple))
            else [file_format] * len(commits))
    if len(fmts) != len(commits):
        raise ValueError("file_format list must match commits 1:1")
    if not _is_local(table_path):
        raise NotImplementedError("write_iceberg_table is a local staging "
                                  "utility")
    root = _local_root(table_path)
    mdir = os.path.join(root, METADATA_DIR)
    os.makedirs(mdir, exist_ok=True)

    schema_fields = None
    part_fields: list[dict] = []
    snapshots: list[dict] = []
    all_manifests: list[dict] = []
    for v, df in enumerate(commits):
        ts = base_ts_ms + v * 1000
        snap_id = 1000 + v
        if schema_fields is None:
            schema_fields = [
                _iceberg_field(i + 1, f)
                for i, f in enumerate(df.schema.fields)]
            part_fields = _part_avro_fields(schema_fields, partition_by,
                                            partition_transforms)
        entries = _stage_commit(spark, df, root, schema_fields,
                                part_fields, snap_id, f"s{v:03d}",
                                file_format=fmts[v])
        mpath = os.path.join(mdir, f"manifest-{v:03d}.avro")
        blob = write_container(_manifest_entry_schema(part_fields),
                               entries)
        with open(mpath, "wb") as f:
            f.write(blob)
        all_manifests.append({"manifest_path": mpath,
                              "manifest_length": len(blob),
                              "partition_spec_id": 0, "content": 0,
                              "added_snapshot_id": snap_id,
                              "sequence_number": v + 1,
                              "min_sequence_number": v + 1})
        mlpath = os.path.join(mdir, f"snap-{snap_id}.avro")
        with open(mlpath, "wb") as f:
            f.write(write_container(_MANIFEST_FILE_SCHEMA,
                                    list(all_manifests)))
        snapshots.append({"snapshot-id": snap_id, "timestamp-ms": ts,
                          "sequence-number": v + 1,
                          "manifest-list": mlpath,
                          "summary": {"operation": "append"}})
        meta = {
            "format-version": 2,
            "last-sequence-number": v + 1,
            "table-uuid": "00000000-0000-0000-0000-00000000s1ce"[:36],
            "location": root,
            "last-updated-ms": ts,
            "schemas": [{"schema-id": 0, "type": "struct",
                         "fields": schema_fields}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": f["name"],
                 "transform": f.get("transform", "identity"),
                 "source-id": f["source_id"], "field-id": 1000 + i}
                for i, f in enumerate(part_fields)]}],
            "default-spec-id": 0,
            "current-snapshot-id": snap_id,
            "snapshots": list(snapshots),
        }
        with open(os.path.join(mdir, f"v{v + 1}.metadata.json"), "w") as f:
            json.dump(meta, f)
        _write_hint(mdir, v + 1)
    return table_path


class IcebergCommitConflict(RuntimeError):
    """A commit could not publish its metadata: another writer claimed
    ``v<N+1>.metadata.json`` first (a lost compare-and-swap), or the head
    moved in a way the verb cannot rebase over — a concurrent schema or
    partition-spec change under staged files, or a new head under
    position deletes derived from an older one. No metadata was written;
    staged data/manifest files may remain as unreferenced garbage.
    Rerun the verb to re-derive against the new head."""


class RestCommitConflict(IcebergCommitConflict):
    """The 409 of the REST commit protocol: a requirement failed against
    the current table state. Retryable — reload, rebase, recommit."""


class RestBadRequest(ValueError):
    """The 400: a malformed or unsupported requirement/update."""


def _local_root(table_path: str) -> str:
    """A local table's root as its writers store paths under it: the
    absolute path of its file key, so a relative or ``file:`` handle
    stores the paths the scan reports."""
    return _strip_scheme(_file_key(None, table_path))


def _writable_root(table_path: str, verb: str) -> str:
    """The guard every committing verb runs at entry: commits go through
    the HadoopCatalog file layout on a local filesystem. Returns the
    table root (``_local_root``)."""
    if _is_metadata_handle(table_path):
        raise NotImplementedError(
            "catalog-managed (*.metadata.json) handles are READ-ONLY "
            "here: commits must go through the owning catalog, not "
            "the file layout")
    if not _is_local(table_path):
        raise NotImplementedError(f"{verb} commits via local atomic create")
    return _local_root(table_path)


def _head(spark: SparkSession | None, mdir: str) -> tuple[int, dict]:
    """(N, metadata) of the highest ``v<N>.metadata.json`` under ``mdir``
    — the commit base. Unlike ``read_table_metadata`` the hint is not
    consulted: a writer must build on the newest file that exists, since
    that is the one its CAS at N+1 races against."""
    versions = [int(m.group(1)) for n in _list_names(spark, mdir)
                if (m := _VMETA_RE.match(n))]
    if not versions:
        raise FileNotFoundError(f"no Iceberg metadata under {mdir}")
    v = max(versions)
    return v, _check_meta(json.loads(_read_bytes(
        spark, os.path.join(mdir, f"v{v}.metadata.json"))))


def _commit_metadata(spark: SparkSession | None, table_path: str,
                     verb: str, build):
    """The one metadata commit path of every verb that commits to an
    existing table: guard the handle, read the head ``(N, meta)`` once,
    call ``build(meta)`` for ``(new_meta, result)``, publish
    ``v<N+1>.metadata.json`` by atomic no-overwrite create, then update
    the advisory hint. Returns
    ``(version, result)``; ``new_meta=None`` means nothing to commit and
    returns the head version unchanged. A lost CAS raises
    ``IcebergCommitConflict``; the snapshot writers' ``_commit_loop``
    reloads and rebuilds, every other verb leaves that to its caller."""
    from ..sinks import delta_writer

    mdir = os.path.join(_writable_root(table_path, verb), METADATA_DIR)
    v, meta = _head(spark, mdir)
    new_meta, result = build(meta)
    if new_meta is None:
        return v, result
    if not delta_writer._atomic_create(
            spark, os.path.join(mdir, f"v{v + 1}.metadata.json"),
            json.dumps(new_meta).encode("utf-8")):
        raise IcebergCommitConflict(
            f"{verb} on {table_path} lost the metadata commit race at "
            f"v{v + 1}; rerun to rebase")
    _write_hint(mdir, v + 1)
    return v + 1, result


def _txn_watermark(meta: dict, app_id: str) -> int:
    """Highest committed batch id for ``app_id`` across the snapshot
    summaries (-1 when none) — the Iceberg analogue of Delta's txn
    watermark, carried in the summary the spec reserves for engine
    properties."""
    mark = -1
    for sn in meta.get("snapshots") or []:
        sm = sn.get("summary") or {}
        if sm.get("spark-graft-app-id") == app_id:
            try:
                mark = max(mark, int(sm.get("spark-graft-batch-id", -1)))
            except (TypeError, ValueError):
                pass
    return mark


def _next_snapshot_id(meta: dict) -> int:
    return max((int(sn["snapshot-id"])
                for sn in meta.get("snapshots") or []), default=999) + 1


def _stamp_ts(meta: dict, ts_ms: int | None) -> int:
    """Commit timestamp: the caller's, else one past the head's."""
    return meta.get("last-updated-ms", 0) + 1 if ts_ms is None \
        else int(ts_ms)


def _check_requirements(meta: dict, requirements: list[dict]) -> None:
    """Validate REST ``TableRequirement``s against the head ``meta``;
    a miss raises ``RestCommitConflict`` (the 409)."""
    for r in requirements or []:
        t = r.get("type")
        if t == "assert-table-uuid":
            if meta.get("table-uuid") != r.get("uuid"):
                raise RestCommitConflict(
                    f"table uuid is {meta.get('table-uuid')}, "
                    f"requirement wants {r.get('uuid')}")
        elif t == "assert-ref-snapshot-id":
            ref = (meta.get("refs") or {}).get(r.get("ref"))
            have = None if ref is None else int(ref["snapshot-id"])
            # main falls back to current-snapshot-id (older
            # metadata may carry no refs map)
            if have is None and r.get("ref") == "main":
                have = meta.get("current-snapshot-id")
            want = r.get("snapshot-id")
            if have != want:
                raise RestCommitConflict(
                    f"ref {r.get('ref')!r} is at {have}, "
                    f"requirement wants {want}")
        elif t == "assert-current-schema-id":
            if int(meta.get("current-schema-id", 0)) != \
                    int(r.get("current-schema-id", -1)):
                raise RestCommitConflict("current-schema-id moved")
        elif t == "assert-default-spec-id":
            if int(meta.get("default-spec-id", 0)) != \
                    int(r.get("default-spec-id", -1)):
                raise RestCommitConflict("default-spec-id moved")
        elif t == "assert-create":
            raise RestCommitConflict(
                "assert-create on an existing table")
        else:
            raise RestBadRequest(f"unsupported requirement {t!r}")


def _added_records_from_list(meta: dict, sn: dict) -> int | None:
    """Actual data rows the snapshot added (ADVICE r13 #4 — the
    server-side truth a client summary can't spoof): open the
    manifests the snapshot CONTRIBUTED (added_snapshot_id matches,
    data content) from its manifest list and sum the record counts
    of their ADDED entries. None when the list or a manifest is
    absent/unreadable."""
    root = meta.get("location") or ""
    if not sn.get("manifest-list") or not _is_local(
            _resolve_path(root, sn["manifest-list"])):
        return None
    try:
        return sum(int(f.get("record_count") or 0)
                   for f in _snapshot_added_files(None, root, sn))
    except (OSError, ValueError):
        return None


def _snapshot_added_files(spark: SparkSession | None, root: str,
                          sn: dict) -> list[dict]:
    """``data_file`` records snapshot ``sn`` ADDED: the ADDED entries of
    the data manifests it contributed (``added_snapshot_id`` matches)."""
    _, manifests = read_container(_read_bytes(
        spark, _resolve_path(root, sn["manifest-list"])))
    out = []
    for mf in manifests:
        if int(mf.get("added_snapshot_id") or -1) != int(sn["snapshot-id"]) \
                or int(mf.get("content") or 0) != 0:
            continue               # another snapshot's, or deletes
        _, entries = read_container(_read_bytes(
            spark, _resolve_path(root, mf["manifest_path"])))
        out.extend(e["data_file"] for e in entries
                   if int(e.get("status") or 0) == STATUS_ADDED)
    return out


def _apply_updates(meta: dict, updates: list[dict]) -> dict:
    """Apply REST ``TableUpdate``s to ``meta`` in place and return it —
    the one applier of the local writers and ``FileRestCatalog``."""
    for u in updates or []:
        t = u.get("action")
        if t == "add-snapshot":
            sn = u["snapshot"]
            # A replayed or buggy client must not append a
            # duplicate snapshot-id: it would break max()-based id
            # allocation and _snapshot lookups downstream
            # (ADVICE r11 #4). 409-class so the client rebases.
            if any(int(s["snapshot-id"]) == int(sn["snapshot-id"])
                   for s in meta.get("snapshots") or []):
                raise RestCommitConflict(
                    f"snapshot-id {sn['snapshot-id']} already "
                    f"exists; reload and rebase")
            meta["snapshots"] = list(meta.get("snapshots") or []) \
                + [sn]
            meta["last-sequence-number"] = max(
                int(meta.get("last-sequence-number") or 0),
                int(sn.get("sequence-number") or 0))
            meta["last-updated-ms"] = max(
                int(meta.get("last-updated-ms") or 0),
                int(sn.get("timestamp-ms") or 0))
            if sn.get("first-row-id") is not None:
                # v3 spec: the SERVER advances next-row-id to
                # first-row-id + the snapshot's assigned rows
                # (summary added-records) — ADVICE r12 #5; a real
                # REST catalog ignores any client next-row-id
                frid = int(sn["first-row-id"])
                cur = int(meta.get("next-row-id") or 0)
                if frid < cur:
                    raise RestBadRequest(
                        f"add-snapshot first-row-id {frid} is "
                        f"below the table's next-row-id {cur}: "
                        f"overlapping row-lineage id ranges")
                raw = (sn.get("summary") or {}).get("added-records")
                added = None if raw is None else int(raw)
                if not added:
                    # ADVICE r13 #4: don't trust an absent (or
                    # suspicious zero) client summary — the
                    # snapshot's own manifest list records the
                    # actual added row counts; client next-row-id
                    # is the last-resort legacy fallback
                    verified = _added_records_from_list(meta, sn)
                    if verified is not None:
                        added = verified
                    elif added is None:
                        if sn.get("next-row-id") is not None:
                            added = max(
                                0, int(sn["next-row-id"]) - frid)
                        else:
                            raise RestBadRequest(
                                "add-snapshot with first-row-id "
                                "needs summary added-records, a "
                                "readable manifest list, or "
                                "next-row-id to advance the "
                                "row-lineage watermark")
                meta["next-row-id"] = max(cur, frid + added)
            elif sn.get("next-row-id") is not None:
                # legacy fallback for clients predating first-row-id
                meta["next-row-id"] = int(sn["next-row-id"])
        elif t == "set-snapshot-ref":
            ref_name = u["ref-name"]
            ref = {"snapshot-id": int(u["snapshot-id"]),
                   "type": u.get("type", "branch")}
            meta["refs"] = {**(meta.get("refs") or {}),
                            ref_name: ref}
            if ref_name == "main":
                _advance_head(meta, int(u["snapshot-id"]))
        elif t == "upgrade-format-version":
            fv = int(u["format-version"])
            if fv < int(meta.get("format-version", 1)):
                raise RestBadRequest(
                    f"cannot downgrade format-version to {fv}")
            meta["format-version"] = fv
        elif t == "set-properties":
            meta["properties"] = {
                **(meta.get("properties") or {}),
                **(u.get("updates") or {})}
        elif t == "remove-properties":
            props = dict(meta.get("properties") or {})
            for k in u.get("removals") or []:
                props.pop(k, None)
            meta["properties"] = props
        else:
            raise RestBadRequest(f"unsupported update {t!r}")
    return meta


def _commit_updates(spark: SparkSession | None, table_path: str,
                    verb: str, requirements: list[dict], make_updates):
    """Commit a REST requirement/update list to the file layout, exactly
    as a catalog server would: inside ``_commit_metadata``'s build, check
    ``requirements`` against the head, call ``make_updates(head)`` for
    ``(updates, result)`` and apply them. ``FileRestCatalog.commit_table``
    and the local snapshot writers both commit through here. Returns
    ``(version, new_meta, result)``."""
    def build(head: dict):
        _check_requirements(head, requirements)
        updates, result = make_updates(head)
        new_meta = _apply_updates(dict(head), updates)
        return new_meta, (new_meta, result)

    v, (new_meta, result) = _commit_metadata(spark, table_path, verb,
                                             build)
    return v, new_meta, result


def _head_requirements(meta: dict, ref: str = "main") -> list[dict]:
    """The requirements that pin a snapshot to the head ``meta`` it was
    derived on: same table, ``ref`` unmoved, and the schema and default
    partition spec its staged files were written under."""
    refs = meta.get("refs") or {}
    return [
        {"type": "assert-table-uuid", "uuid": meta.get("table-uuid")},
        {"type": "assert-ref-snapshot-id", "ref": ref,
         "snapshot-id": (int(refs[ref]["snapshot-id"]) if ref in refs
                         else meta.get("current-snapshot-id"))},
        {"type": "assert-current-schema-id",
         "current-schema-id": int(meta.get("current-schema-id", 0))},
        {"type": "assert-default-spec-id",
         "default-spec-id": int(meta.get("default-spec-id", 0))}]


def _snapshot_updates(spark: SparkSession | None, root: str, meta: dict,
                      operation: str, deletes: list[dict] = (),
                      data: list[dict] = (),
                      part_fields: list[dict] | None = None,
                      spec_id: int = 0,
                      supersede_dv_keys: set[str] | None = None,
                      format_version: int | None = None,
                      ref: str = "main", ts_ms: int | None = None,
                      summary: dict | None = None):
    """The one builder of a snapshot that a write adds to an existing
    table, built on the head ``meta``. The manifest list is the ``ref``
    head's manifests plus one delete manifest of ``deletes`` and one
    data manifest of ``data`` (partition spec ``spec_id``), both ADDED
    at the next sequence number. ``supersede_dv_keys`` names data files
    whose prior deletion vectors this snapshot replaces (v3 allows one
    DV per data file): carried delete manifests are rewritten without
    them. On a row-lineage table the data files claim fresh
    ``first_row_id`` ranges from ``next-row-id``, in file-path order.

    Returns ``(updates, snapshot id)``, the REST ``TableUpdate`` list:
    ``upgrade-format-version`` when ``format_version`` is above the
    table's, ``add-snapshot`` (carrying ``first-row-id`` and
    ``added-records``, from which ``_apply_updates`` advances
    ``next-row-id``) and ``set-snapshot-ref``. The local transport
    applies the list with ``_apply_updates``; the catalog posts it."""
    if data and _default_spec_part_fields(
            meta, _current_schema(meta)["fields"]) != (spec_id, part_fields):
        raise IcebergCommitConflict(
            "the head's default partition spec is not the one the data "
            "files were staged under")
    mdir = os.path.join(root, METADATA_DIR)
    tag = uuid.uuid4().hex[:12]
    snap_id = _next_snapshot_id(meta)
    seq = int(meta.get("last-sequence-number") or 0) + 1
    refs = meta.get("refs") or {}
    base = refs[ref]["snapshot-id"] if ref in refs \
        else meta.get("current-snapshot-id")
    manifests: list[dict] = []
    if base is not None and int(base) != -1:
        _, manifests = read_container(_read_bytes(spark, _resolve_path(
            root, _snapshot(meta, int(base))["manifest-list"])))
    if supersede_dv_keys:
        manifests = _retire_superseded_dvs(spark, root, mdir, manifests,
                                           supersede_dv_keys, snap_id)
    snapshot = {"snapshot-id": snap_id,
                "timestamp-ms": _stamp_ts(meta, ts_ms),
                "sequence-number": seq,
                "summary": {"operation": operation, **(summary or {})}}
    if data and meta.get("next-row-id") is not None:
        first = nri = int(meta["next-row-id"])
        stamped = []
        for e in sorted(data, key=lambda e: e["data_file"]["file_path"]):
            stamped.append({**e, "data_file": {**e["data_file"],
                                               "first_row_id": nri}})
            nri += int(e["data_file"].get("record_count") or 0)
        data = stamped
        snapshot["first-row-id"] = first
        snapshot["summary"]["added-records"] = str(nri - first)
    for content, entries, sid, fields in ((1, deletes, 0, None),
                                          (0, data, spec_id, part_fields)):
        if not entries:
            continue
        mpath = os.path.join(mdir, f"manifest-{snap_id}-{tag}-{content}.avro")
        blob = write_container(_manifest_entry_schema(fields),
                               [{**e, "snapshot_id": snap_id}
                                for e in entries])
        with open(mpath, "wb") as f:
            f.write(blob)
        manifests.append({
            "manifest_path": mpath, "manifest_length": len(blob),
            "partition_spec_id": sid, "content": content,
            "added_snapshot_id": snap_id,
            "sequence_number": seq, "min_sequence_number": seq})
    snapshot["manifest-list"] = os.path.join(mdir,
                                             f"snap-{snap_id}-{tag}.avro")
    with open(snapshot["manifest-list"], "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))
    updates = []
    if format_version is not None and \
            format_version > int(meta.get("format-version", 1)):
        updates.append({"action": "upgrade-format-version",
                        "format-version": int(format_version)})
    updates += [{"action": "add-snapshot", "snapshot": snapshot},
                {"action": "set-snapshot-ref", "ref-name": ref,
                 "type": "branch", "snapshot-id": snap_id}]
    return updates, snap_id


def _commit_loop(table, verb: str, max_retries: int, attempt) -> int:
    """The optimistic loop of every snapshot writer, on either transport.
    ``table`` is ``(name, load, publish)``: ``load()`` returns the head
    as ``(root, meta)``; ``publish(root, meta, **snapshot)`` commits the
    ``_snapshot_updates`` snapshot guarded by that head and raises
    ``IcebergCommitConflict`` when the head moved. ``attempt(root,
    meta)`` derives and stages against the loaded head and returns the
    snapshot's keyword arguments, or None when there is nothing to
    commit (the head's snapshot id is returned). A lost race reloads and
    calls ``attempt`` again, at most ``max_retries`` times; a conflict
    ``attempt`` raises itself (it cannot rebase) is not retried."""
    name, load, publish = table
    last: Exception | None = None
    for _ in range(max_retries + 1):
        root, meta = load()
        snapshot = attempt(root, meta)
        if snapshot is None:
            return int(meta["current-snapshot-id"])
        try:
            return publish(root, meta, **snapshot)
        except IcebergCommitConflict as exc:
            last = exc     # head moved: reload and re-derive
    raise IcebergCommitConflict(
        f"{verb} on {name} lost {max_retries + 1} commit races") from last


def _append(spark: SparkSession, df: DataFrame, table, verb: str,
            ts_ms: int | None, max_retries: int,
            txn_app_id: str | None = None, txn_version: int | None = None,
            branch: str | None = None) -> int:
    """The append of both transports (see ``append_iceberg``): order and
    cast ``df`` to the head's schema, filling v3 ``write-default``
    columns it lacks, stage the data files ONCE, then commit through
    ``_commit_loop``. Each attempt re-checks the txn watermark and that
    the head's schema and partition spec still match the staged layout
    (else ``IcebergCommitConflict`` — rerun to restage)."""
    from pyspark.sql import functions as F

    name = table[0]
    staged: dict = {}

    def attempt(root: str, meta: dict):
        if txn_app_id is not None and \
                _txn_watermark(meta, txn_app_id) >= txn_version:
            return None                  # idempotent replay (or racer)
        if branch is not None:
            refs = meta.get("refs") or {}
            if branch not in refs:
                raise FileNotFoundError(
                    f"branch {branch!r} not found (have {sorted(refs)}); "
                    f"create it with set_iceberg_ref(..., 'branch')")
            if refs[branch].get("type") != "branch":
                raise ValueError(f"ref {branch!r} is a tag; appends need "
                                 f"a branch")
        fields = _current_schema(meta)["fields"]
        layout = _default_spec_part_fields(meta, fields)
        if not staged:
            names = [f["name"] for f in fields]
            # v3 write-default: a column the writer does not supply is
            # filled with its declared default at write time (spec
            # "Default values") — only columns with NO default remain a
            # schema-contract error
            filled = df
            for f in fields:
                if f["name"] not in df.columns and "write-default" in f:
                    filled = filled.withColumn(f["name"], F.lit(
                        f["write-default"]).cast(_spark_type(f["type"])))
            missing = [n for n in names if n not in filled.columns]
            extra = [c for c in filled.columns if c not in names]
            if missing or extra:
                raise ValueError(f"append frame does not match table "
                                 f"schema: missing {missing}, extra "
                                 f"{extra}")
            ordered = filled.select(*[
                F.col(f["name"]).cast(_spark_type(f["type"]))
                .alias(f["name"]) for f in fields])
            staged.update(fields=fields, layout=layout, data=_stage_commit(
                spark, ordered, root, fields, layout[1],
                _next_snapshot_id(meta), f"a{uuid.uuid4().hex[:12]}"))
        elif fields != staged["fields"]:
            raise IcebergCommitConflict(
                f"schema of {name} changed concurrently; staged files "
                f"carry the old field ids — rerun to restage")
        elif layout != staged["layout"]:
            raise IcebergCommitConflict(
                f"partition spec of {name} changed concurrently; staged "
                f"files carry the old layout — rerun to restage")
        summary = {} if txn_app_id is None else {
            "spark-graft-app-id": txn_app_id,
            "spark-graft-batch-id": str(int(txn_version))}
        return dict(operation="append", data=staged["data"],
                    part_fields=layout[1], spec_id=layout[0],
                    ref=branch or "main", ts_ms=ts_ms, summary=summary)

    return _commit_loop(table, verb, max_retries, attempt)


def append_iceberg(spark: SparkSession, df: DataFrame, table_path: str,
                   ts_ms: int | None = None, max_retries: int = 10,
                   txn_app_id: str | None = None,
                   txn_version: int | None = None,
                   branch: str | None = None) -> int:
    """TRANSACTIONAL append to an existing Iceberg table — the CAS commit
    the HadoopCatalog convention defines: stage data files once
    (uuid-named, racer-collision-free), then commit through
    ``_commit_loop``. Each attempt re-verifies the head's schema and
    partition spec still match the staged layout (else
    ``IcebergCommitConflict`` — the staged files' layout is
    spec-derived) and builds the snapshot ON the head it publishes
    over (``_snapshot_updates``: snapshot id, sequence number, timestamp,
    row-id ranges and manifest list); a lost race rebases the same way,
    up to ``max_retries`` times. ``version-hint.text`` is updated last
    as the advisory pointer it is — readers fall back to the highest
    metadata file, so a crash between commit and hint write loses
    nothing.

    ``txn_app_id``/``txn_version`` make the append IDEMPOTENT, the same
    exactly-once handshake the Delta writer's txn actions provide: the
    batch id is recorded in the snapshot SUMMARY, and an append whose
    (app, id) is at or below the app's committed watermark is a NO-OP —
    checked before staging AND on every commit attempt (a racer may BE
    the duplicate writer).

    Returns the new snapshot id (or the current one for a deduped
    no-op). The spec-slicing loop is the staging writer's (gate-scale);
    the commit protocol is real.

    ``branch``: commit to a NAMED BRANCH instead of main — the snapshot
    chains on the BRANCH head (its manifest list, not main's) and only
    the branch ref advances; main and ``current-snapshot-id`` do not
    move. With ``set_iceberg_ref`` re-pointing main afterwards, that is
    the WAP (write-audit-publish) workflow: stage to an audit branch,
    validate by reading ``ref=branch``, publish by fast-forwarding
    main. The branch must exist (``set_iceberg_ref(..., 'branch')``)."""
    root = _writable_root(table_path, "append_iceberg")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version go together")
    mdir = os.path.join(root, METADATA_DIR)

    def publish(root: str, meta: dict, **snapshot) -> int:
        return _commit_updates(
            spark, table_path, "append_iceberg",
            _head_requirements(meta, snapshot["ref"]),
            lambda head: _snapshot_updates(spark, root, head, **snapshot))[2]

    return _append(spark, df,
                   (table_path, lambda: (root, _head(spark, mdir)[1]),
                    publish),
                   "append_iceberg", ts_ms, max_retries,
                   txn_app_id, txn_version, branch)


def set_iceberg_ref(spark: SparkSession, table_path: str, name: str,
                    ref_type: str = "tag",
                    snapshot_id: int | None = None,
                    ts_ms: int | None = None) -> int:
    """Create or re-point a named ref — the spec's ``refs`` metadata map
    behind ``CREATE TAG`` / ``CREATE BRANCH`` (and their REPLACE forms).
    A TAG is an immutable label on a snapshot (expire keeps it alive); a
    BRANCH is a movable head (``main`` is the default branch — this
    writer's commits advance it via ``_advance_head``; other branches
    only move when re-pointed here, branch WRITES are out of scope and
    callers get the loud main-only behavior). ``snapshot_id`` defaults
    to the current snapshot. Metadata-only CAS commit at head+1; no
    snapshot is added. Returns the new metadata version."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, got {ref_type!r}")
    if name == "main" and ref_type != "branch":
        raise ValueError("'main' is the default BRANCH; it cannot be a tag")

    def build(meta: dict):
        sid = (int(meta["current-snapshot-id"]) if snapshot_id is None
               else int(snapshot_id))
        _snapshot(meta, sid)  # must name a live snapshot — raises otherwise
        new_meta = dict(meta)
        new_meta["refs"] = {**(meta.get("refs") or {}),
                            name: {"snapshot-id": sid, "type": ref_type}}
        if name == "main":
            # main and current-snapshot-id stay in lockstep (spec): this
            # is the WAP publish step — fast-forwarding main to an
            # audited branch head makes it THE table state for ref-less
            # readers too
            new_meta["current-snapshot-id"] = sid
        new_meta["last-updated-ms"] = _stamp_ts(meta, ts_ms)
        return new_meta, None

    return _commit_metadata(spark, table_path, "set_iceberg_ref", build)[0]


def evolve_iceberg_partition_spec(spark: SparkSession, table_path: str,
                                  partition_by: list[str] | tuple = (),
                                  partition_transforms:
                                  list[tuple[str, str, str]] | tuple = (),
                                  ts_ms: int | None = None) -> int:
    """PARTITION SPEC EVOLUTION (``ALTER TABLE ... REPLACE PARTITION
    FIELD`` family): append a NEW spec to ``partition-specs`` and make it
    the default — existing data files keep their old spec (manifests are
    spec-id-stamped and carry their own Avro schema, so mixed-spec scans
    decode correctly; the metadata filters treat an absent partition
    field as unskippable, so old files are never wrongly pruned), while
    every subsequent ``append_iceberg`` stages under the new layout.
    That no-rewrite evolution is Iceberg's headline advantage over
    hive-style layouts at 100 TB.

    ``partition_by`` declares identity fields; ``partition_transforms``
    is ``(field_name, transform, source_col)`` triples (``days``/
    ``bucket[N]``/``truncate[W]``/...). Pass neither to make the table
    unpartitioned going forward. Partition field ids continue from the
    highest id any spec has used (spec rule: unique across specs).
    Metadata-only CAS commit at head+1; returns the new spec id."""
    if partition_by and partition_transforms:
        raise ValueError("pass partition_by or partition_transforms, "
                         "not both")
    triples = ([(c, "identity", c) for c in partition_by]
               + [tuple(t) for t in partition_transforms])

    def build(meta: dict):
        by_name = {f["name"]: f for f in _current_schema(meta)["fields"]
                   if isinstance(f["type"], str)}
        specs = list(meta.get("partition-specs") or [])
        new_sid = max((int(s.get("spec-id", 0)) for s in specs),
                      default=-1) + 1
        next_fid = max((int(f.get("field-id", 999)) for s in specs
                        for f in (s.get("fields") or [])), default=999) + 1
        fields = []
        for name, transform, src in triples:
            if src not in by_name:
                raise ValueError(f"partition source column {src!r} is not "
                                 f"a (primitive) table column")
            if transform != "identity" and transform != "void" and not (
                    re.match(r"^(truncate|bucket)\[\d+\]$", transform)
                    or transform in ("year", "years", "month", "months",
                                     "day", "days", "hour", "hours")):
                # validate the transform name eagerly, not at first append
                raise IcebergProtocolError(
                    f"unknown partition transform {transform!r}")
            fields.append({"name": name, "transform": transform,
                           "source-id": int(by_name[src]["id"]),
                           "field-id": next_fid})
            next_fid += 1
        new_meta = dict(meta)
        new_meta["partition-specs"] = specs + [{"spec-id": new_sid,
                                                "fields": fields}]
        new_meta["default-spec-id"] = new_sid
        new_meta["last-updated-ms"] = _stamp_ts(meta, ts_ms)
        return new_meta, new_sid

    return _commit_metadata(spark, table_path,
                            "evolve_iceberg_partition_spec", build)[1]


def drop_iceberg_ref(spark: SparkSession, table_path: str, name: str,
                     ts_ms: int | None = None) -> int:
    """Remove a named ref (``DROP TAG`` / ``DROP BRANCH``). The snapshot
    it pinned becomes expirable again. ``main`` refuses — dropping the
    default branch would orphan the head. Returns the new version."""
    if name == "main":
        raise ValueError("cannot drop the default branch 'main'")

    def build(meta: dict):
        refs = dict(meta.get("refs") or {})
        if name not in refs:
            raise FileNotFoundError(f"ref {name!r} not found "
                                    f"(have {sorted(refs)})")
        del refs[name]
        return {**meta, "refs": refs,
                "last-updated-ms": _stamp_ts(meta, ts_ms)}, None

    return _commit_metadata(spark, table_path, "drop_iceberg_ref", build)[0]


def rewrite_iceberg_manifests(spark: SparkSession, table_path: str,
                              ts_ms: int | None = None,
                              assign_row_lineage: bool = False
                              ) -> int | None:
    """RewriteManifests — the metadata half of the maintenance triad
    (compact files / rewrite manifests / expire snapshots): consolidate
    the current snapshot's DATA manifests into ONE manifest per
    partition spec. Every live entry is rewritten as EXISTING with an
    EXPLICIT data sequence number (the resolved own-or-inherited value —
    the writer-side obligation of the ADDED-only inheritance rule;
    equality-delete scoping would otherwise inflate), keeping its
    original snapshot id. Delete manifests ride along untouched. NO
    data file moves — planning cost is what drops: a table that
    accumulated one manifest per append scans one manifest per spec
    afterwards. Returns the new snapshot id, or None when there is
    nothing to consolidate (<= 1 data manifest). Single-writer local-FS
    maintenance verb, CAS at head+1."""
    mdir = os.path.join(_local_root(table_path), METADATA_DIR)

    def build(meta: dict):
        snap = _snapshot(meta, None)
        _, manifests = read_container(_read_bytes(
            spark, _resolve_path(table_path, snap["manifest-list"])))
        data_mfs = [m for m in manifests
                    if int(m.get("content") or 0) == 0]
        del_mfs = [m for m in manifests if int(m.get("content") or 0) == 1]
        if len(data_mfs) <= 1 and not assign_row_lineage:
            return None, None

        schema_fields = _current_schema(meta)["fields"]
        fv = int(meta.get("format-version", 1))
        by_spec: dict[int, list[dict]] = {}
        for m in data_mfs:
            mf_seq = int(m.get("sequence_number") or 0)
            _, entries = read_container(_read_bytes(
                spark, _resolve_path(table_path, m["manifest_path"])))
            for e in entries:
                if int(e.get("status") or 0) == STATUS_DELETED:
                    continue
                own = e.get("sequence_number")
                if own is None and fv >= 2 and (
                        int(e.get("status") or 0) != STATUS_ADDED):
                    raise IcebergProtocolError(
                        "manifest entry status=EXISTING with null "
                        "sequence_number (inheritance is ADDED-only)")
                by_spec.setdefault(int(m.get("partition_spec_id") or 0),
                                   []).append({
                    "status": STATUS_EXISTING,
                    "snapshot_id": e.get("snapshot_id"),
                    "sequence_number": int(own) if own is not None
                    else mf_seq,
                    "data_file": dict(e["data_file"])})

        new_seq = int(meta.get("last-sequence-number") or 0) + 1
        snap_id = _next_snapshot_id(meta)
        ts = _stamp_ts(meta, ts_ms)
        tag = f"m{uuid.uuid4().hex[:12]}"
        next_row_id = int(meta.get("next-row-id") or 0)
        if assign_row_lineage:
            # v3 ROW LINEAGE backfill: every live file lacking a
            # first_row_id claims a range here, deterministic by file path
            for sid_k in sorted(by_spec):
                for e in sorted(by_spec[sid_k],
                                key=lambda e: e["data_file"]["file_path"]):
                    df_rec = e["data_file"]
                    if df_rec.get("first_row_id") is None:
                        df_rec["first_row_id"] = next_row_id
                        next_row_id += int(df_rec.get("record_count") or 0)
                    else:
                        next_row_id = max(
                            next_row_id,
                            int(df_rec["first_row_id"])
                            + int(df_rec.get("record_count") or 0))
        new_manifests: list[dict] = []
        for sid in sorted(by_spec):
            _, part_fields = _default_spec_part_fields(meta, schema_fields,
                                                       sid)
            entries = sorted(by_spec[sid],
                             key=lambda e: e["data_file"]["file_path"])
            blob = write_container(_manifest_entry_schema(part_fields),
                                   entries)
            mpath = os.path.join(mdir, f"manifest-{tag}-s{sid}.avro")
            with open(mpath, "wb") as fh:
                fh.write(blob)
            new_manifests.append({
                "manifest_path": mpath, "manifest_length": len(blob),
                "partition_spec_id": sid, "content": 0,
                "added_snapshot_id": snap_id,
                "sequence_number": new_seq,
                "min_sequence_number": min(e["sequence_number"]
                                           for e in entries)})
        mlpath = os.path.join(mdir, f"snap-{snap_id}-{tag}.avro")
        with open(mlpath, "wb") as fh:
            fh.write(write_container(_MANIFEST_FILE_SCHEMA,
                                     new_manifests + list(del_mfs)))
        new_meta = dict(meta)
        if assign_row_lineage:
            new_meta["format-version"] = max(fv, 3)
            new_meta["next-row-id"] = next_row_id
        new_meta["snapshots"] = list(meta.get("snapshots") or []) + [{
            "snapshot-id": snap_id, "timestamp-ms": ts,
            "sequence-number": new_seq, "manifest-list": mlpath,
            "summary": {"operation": "replace"}}]
        _advance_head(new_meta, snap_id)
        new_meta["last-updated-ms"] = ts
        new_meta["last-sequence-number"] = new_seq
        return new_meta, snap_id

    return _commit_metadata(spark, table_path, "rewrite_iceberg_manifests",
                            build)[1]


def enable_iceberg_row_lineage(spark: SparkSession,
                               table_path: str) -> int:
    """Upgrade the table to v3 ROW LINEAGE: one 'replace' snapshot
    backfills an explicit ``first_row_id`` range onto every live data
    file (deterministic by file path), sets ``next-row-id``, and bumps
    format-version to 3. Subsequent ``append_iceberg`` commits claim
    fresh ranges and advance the counter; DV deletes keep survivor ids
    positionally stable (files never move). Read back through
    ``read_iceberg_snapshot_with_row_ids``."""
    sid = rewrite_iceberg_manifests(spark, table_path,
                                    assign_row_lineage=True)
    assert sid is not None
    return sid


def read_iceberg_snapshot_with_row_ids(spark: SparkSession,
                                       table_path: str,
                                       snapshot_id: int | None = None
                                       ) -> DataFrame:
    """Snapshot carrying v3 ROW-LINEAGE ids: ``_row_id`` =
    ``first_row_id + position`` — the Iceberg twin of the Delta row
    tracking surface. Stable under DV/position/equality deletes (rows
    never move); raises when any live file lacks a ``first_row_id``
    (run ``enable_iceberg_row_lineage`` first). Parquet-only (row
    positions need ``_metadata.row_index``)."""
    from pyspark.sql import functions as F

    meta = read_table_metadata(spark, table_path)
    root = iceberg_table_root(table_path, meta)
    deletes: list[dict] = []
    files = live_data_files(spark, root, meta, snapshot_id,
                            deletes_out=deletes)
    schema = iceberg_spark_schema(meta)
    if not files:
        return local_frame(
            spark, [], T.StructType(list(schema.fields)
                             + [T.StructField("_row_id", T.LongType())]))
    missing = [f["file_path"] for f in files
               if f.get("first_row_id") is None]
    if missing:
        raise IcebergProtocolError(
            f"{len(missing)} live file(s) carry no first_row_id — "
            f"explicit or inherited from the manifest's first_row_id "
            f"assignment; run enable_iceberg_row_lineage to backfill")
    _need_positions(files, "row lineage")
    keyed = _scan_data_files(spark, root, meta, files, keyed=True)
    if deletes:
        keyed = _apply_row_deletes(spark, keyed, root, files, deletes,
                                   meta, drop_helpers=False)
    rows = [(_stored_file_key(spark, root, f["file_path"]),
             int(f["first_row_id"])) for f in files]
    frid = local_frame(spark, rows, f"{_POS_KEY} string, __frid long")
    out = (keyed.join(F.broadcast(frid), _POS_KEY, "left")
           .withColumn("_row_id", F.col("__frid") + F.col(_POS_IDX)))
    return out.select(*[f.name for f in schema.fields], "_row_id")


def expire_iceberg_snapshots(spark: SparkSession, table_path: str,
                             keep_last: int | None = None,
                             older_than_ms: int | None = None,
                             dry_run: bool = False,
                             ts_ms: int | None = None) -> dict:
    """expireSnapshots — the Iceberg maintenance action paired with
    ``compact_iceberg_table``: drop snapshots from the table metadata
    (``keep_last`` newest survive, and/or everything committed at or
    after ``older_than_ms`` survives; the CURRENT snapshot always
    survives), then delete the files only the expired snapshots
    referenced — manifest lists, manifests, and data/delete files
    unreachable from every surviving snapshot. Time travel to an
    expired snapshot then fails LOUDLY (snapshot id unknown), never
    silently serves partial data — the same contract as Delta log
    retirement (``DeltaTable.cleanup_metadata``).

    Returns {"expired": [ids], "deleted_files": [paths], "version": N}.
    ``dry_run`` computes both lists and commits nothing. Single-writer
    local-FS maintenance verb; CAS at head+1 like compaction."""
    if keep_last is None and older_than_ms is None:
        raise ValueError("pass keep_last and/or older_than_ms")

    def _referenced(snapshots: list[dict]) -> set[str]:
        """manifest-list + manifest + data/delete file paths reachable
        from ``snapshots`` — driver-side metadata walk, KB-to-MB."""
        refs: set[str] = set()
        for sn in snapshots:
            ml = sn.get("manifest-list")
            if not ml:
                continue
            mlr = _resolve_path(table_path, ml)
            refs.add(mlr)
            try:
                _, manifests = read_container(_read_bytes(spark, mlr))
            except FileNotFoundError:
                continue               # already gone (prior expire crash)
            for m in manifests:
                mp = _resolve_path(table_path, m["manifest_path"])
                refs.add(mp)
                try:
                    _, entries = read_container(_read_bytes(spark, mp))
                except FileNotFoundError:
                    continue
                for e in entries:
                    refs.add(_resolve_path(
                        table_path, e["data_file"]["file_path"]))
        return refs

    def build(meta: dict):
        snaps = sorted(meta.get("snapshots") or [],
                       key=lambda s: s.get("timestamp-ms") or 0)
        cur_id = meta.get("current-snapshot-id")
        # spec: snapshots referenced by a branch/tag ref are retained — a
        # tag is exactly a promise that its snapshot outlives expiration
        ref_pinned = {int(r["snapshot-id"])
                      for r in (meta.get("refs") or {}).values()}
        survivors = []
        for i, sn in enumerate(snaps):
            keep = sn.get("snapshot-id") == cur_id
            if int(sn.get("snapshot-id")) in ref_pinned:
                keep = True
            if keep_last is not None and i >= len(snaps) - keep_last:
                keep = True
            if older_than_ms is not None and \
                    int(sn.get("timestamp-ms") or 0) >= older_than_ms:
                keep = True
            if keep:
                survivors.append(sn)
        expired = [sn for sn in snaps if sn not in survivors]
        if not expired:
            return None, {"expired": [], "deleted_files": []}
        report = {"expired": [int(sn["snapshot-id"]) for sn in expired],
                  "deleted_files": sorted(_referenced(expired)
                                          - _referenced(survivors))}
        if dry_run:
            return None, report
        return {**meta, "snapshots": survivors,
                "last-updated-ms": _stamp_ts(meta, ts_ms)}, report

    version, report = _commit_metadata(
        spark, table_path, "expire_iceberg_snapshots", build)
    report["version"] = version
    if report["expired"] and not dry_run:
        # delete AFTER the commit: a crash mid-delete leaves only orphans
        # (retryable), never a committed metadata referencing deleted files
        for p in report["deleted_files"]:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(p)
    return report


#: Iceberg spec field ids reserved for position-delete file columns
_DELETE_FILE_PATH_FID, _DELETE_POS_FID = 2147483546, 2147483545


def compact_iceberg_table(spark: SparkSession, table_path: str,
                          small_file_bytes: int = 128 * 1024 * 1024,
                          ts_ms: int | None = None) -> int | None:
    """Bin-packing compaction — the RewriteFiles maintenance action: in
    each partition, live data files under ``small_file_bytes`` merge
    into replacement files; one "replace" snapshot commits a single
    consolidated manifest covering the whole live set. SEQUENCE-NUMBER
    PRESERVATION is the spec-critical part: compacted outputs are
    ADDED entries carrying an EXPLICIT data sequence number — the
    rewrite's STARTING sequence number (``last-sequence-number`` at
    plan time; every input row was committed at or below it) — and
    untouched files ride along as EXISTING entries with their original
    explicit sequence numbers. A fresh inherited number would make
    future equality deletes' strictly-older scoping skip the compacted
    rows (resurrection); inheritance is ADDED-only per spec and this
    writer never relies on it for rewritten data. Returns the new
    snapshot id, or None when nothing qualifies (< 2 small files in
    every partition). Old files stay on disk — historical snapshots
    keep reading them, exactly like Delta OPTIMIZE before vacuum.

    MERGE-ON-READ tables compact too: the doomed files' rows are read
    EFFECTIVE (position + equality deletes applied by the same
    machinery the snapshot read uses), so compacted outputs contain
    only live rows; position-delete files are then rewritten to drop
    references to the rewritten data files (dropped entirely when
    nothing survives — the deletes are baked into the outputs) while
    references to KEPT files survive verbatim; equality-delete files
    ride along untouched — they keep applying to kept files by the
    strictly-older rule, and never re-apply to the outputs because the
    outputs' explicit starting sequence number is >= every folded
    delete's.

    Scope: the staging/maintenance tier (single-writer, local FS, CAS
    at head+1 with no rebase — concurrent commits raise
    ``IcebergCommitConflict``). ORC data files reject (the rewrite
    would silently change their format)."""
    return _commit_metadata(
        spark, table_path, "compact_iceberg_table",
        lambda meta: _compact(spark, table_path, meta, small_file_bytes,
                              ts_ms))[1]


def _compact(spark: SparkSession, table_path: str, meta: dict,
             small_file_bytes: int, ts_ms: int | None):
    """``compact_iceberg_table``'s build step on head ``meta``: stage the
    rewritten data/delete files and the manifests, return
    ``(new_meta, snapshot id)`` or ``(None, None)`` when nothing
    qualifies."""
    from pyspark.sql import functions as F

    root = _local_root(table_path)
    mdir = os.path.join(root, METADATA_DIR)
    deletes: list[dict] = []
    files = live_data_files(spark, table_path, meta, None,
                            deletes_out=deletes)
    if any((f.get("file_format") or "PARQUET").upper() == "ORC"
           for f in files):
        raise IcebergProtocolError(
            "compaction over ORC data files would rewrite them as "
            "parquet; not supported")

    # group small files by partition struct
    def _pkey(f: dict) -> tuple:
        return tuple(sorted((f.get("partition") or {}).items(),
                            key=lambda kv: kv[0]))

    groups: dict[tuple, list[dict]] = {}
    for f in files:
        if int(f.get("file_size_in_bytes") or 0) < small_file_bytes:
            groups.setdefault(_pkey(f), []).append(f)
    groups = {k: fs for k, fs in groups.items() if len(fs) >= 2}
    if not groups:
        return None, None
    doomed_paths = {f["file_path"] for fs in groups.values() for f in fs}

    schema_fields = _current_schema(meta)["fields"]
    for f in schema_fields:
        if not isinstance(f["type"], str):
            raise IcebergProtocolError(
                "compaction supports flat primitive schemas")
    name_to_field = {f["name"]: (f["id"], f["type"])
                     for f in schema_fields}
    sid, part_fields = _default_spec_part_fields(meta, schema_fields)

    starting_seq = int(meta.get("last-sequence-number") or 0)
    snap_id = _next_snapshot_id(meta)
    new_seq = starting_seq + 1
    ts = _stamp_ts(meta, ts_ms)
    tag = f"c{uuid.uuid4().hex[:12]}"
    ddir = os.path.join(root, "data")
    with_ids_cols = [
        F.col(f["name"]).alias(f["name"],
                               metadata={"parquet.field.id": f["id"]})
        for f in schema_fields]

    entries: list[dict] = []
    import pyarrow.parquet as pq

    for j, (pkey, fs) in enumerate(sorted(groups.items(), key=str)):
        total = sum(int(f.get("file_size_in_bytes") or 0) for f in fs)
        n_out = max(1, -(-total // max(small_file_bytes, 1)))
        # the snapshot read's own scan and delete apply: outputs carry
        # only EFFECTIVE rows, with v3 initial-default values
        scan = _scan_data_files(spark, table_path, meta, fs,
                                keyed=bool(deletes))
        if deletes:
            scan = _apply_row_deletes(spark, scan, table_path, fs,
                                      deletes, meta)
        merged = scan.select(*with_ids_cols).coalesce(int(n_out))
        staging = os.path.join(root, f"_staging_{tag}-g{j:03d}")
        merged.write.mode("overwrite").parquet(staging)
        for i, name in enumerate(sorted(
                n for n in os.listdir(staging)
                if n.endswith(".parquet"))):
            target = os.path.join(ddir, f"{tag}-g{j:03d}-{i:05d}.parquet")
            os.replace(os.path.join(staging, name), target)
            lo_b, hi_b = _footer_bounds(target, name_to_field)
            entries.append({
                "status": STATUS_ADDED, "snapshot_id": snap_id,
                "sequence_number": starting_seq,   # EXPLICIT: see doc
                "data_file": {
                    "content": 0, "file_path": target,
                    "file_format": "PARQUET",
                    "partition": dict(pkey),
                    "record_count":
                        pq.ParquetFile(target).metadata.num_rows,
                    "file_size_in_bytes": os.path.getsize(target),
                    "lower_bounds": lo_b or None,
                    "upper_bounds": hi_b or None}})
        import shutil
        shutil.rmtree(staging, ignore_errors=True)

    for f in files:                       # survivors ride along
        if f["file_path"] in doomed_paths:
            continue
        rec = {k: val for k, val in f.items() if k != "_seq"}
        entries.append({"status": STATUS_EXISTING, "snapshot_id": snap_id,
                        "sequence_number": int(f.get("_seq") or 0),
                        "data_file": rec})

    # delete files: equality deletes ride along untouched (outputs'
    # starting seq >= every folded delete's, so they never re-apply);
    # position-delete files drop their references to rewritten data
    # files — kept verbatim when untouched, rewritten when mixed,
    # dropped when nothing survives
    delete_entries: list[dict] = []
    doomed_keys = sorted({_stored_file_key(spark, table_path, f["file_path"])
                          for fs in groups.values() for f in fs})
    for kd, d in enumerate(deletes):
        dseq = int(d.get("_seq") or 0)
        rec = {k: val for k, val in d.items() if k != "_seq"}
        if int(d.get("content") or 0) == 2:
            delete_entries.append({
                "status": STATUS_EXISTING, "snapshot_id": snap_id,
                "sequence_number": dseq, "data_file": rec})
            continue
        if d.get("content_offset") is not None:
            # v3 puffin DV: folded into the outputs if its data file was
            # rewritten, kept verbatim otherwise; a PARTIALLY-doomed
            # reference set cannot occur (one DV references ONE file)
            if _stored_file_key(spark, table_path,
                                d["referenced_data_file"]) in doomed_keys:
                continue                  # baked into the rewrite
            delete_entries.append({
                "status": STATUS_EXISTING, "snapshot_id": snap_id,
                "sequence_number": dseq, "data_file": rec})
            continue
        dpath = _resolve_path(table_path, d["file_path"])
        ddf = spark.read.parquet(dpath)
        keep = ddf.filter(
            ~_stored_file_key_col(spark, table_path, F.col("file_path"))
            .isin(doomed_keys))
        n_keep = keep.count()
        if n_keep == int(d.get("record_count") or -1):
            delete_entries.append({       # untouched: keep verbatim
                "status": STATUS_EXISTING, "snapshot_id": snap_id,
                "sequence_number": dseq, "data_file": rec})
            continue
        if n_keep == 0:
            continue                      # fully folded into outputs
        staging = os.path.join(root, f"_staging_{tag}-d{kd:03d}")
        (keep.select(
            F.col("file_path").alias(
                "file_path",
                metadata={"parquet.field.id": _DELETE_FILE_PATH_FID}),
            F.col("pos").alias(
                "pos", metadata={"parquet.field.id": _DELETE_POS_FID}))
         .coalesce(1).write.mode("overwrite").parquet(staging))
        name = next(n for n in sorted(os.listdir(staging))
                    if n.endswith(".parquet"))
        target = os.path.join(ddir, f"{tag}-d{kd:03d}.parquet")
        os.replace(os.path.join(staging, name), target)
        import shutil
        shutil.rmtree(staging, ignore_errors=True)
        delete_entries.append({
            "status": STATUS_ADDED, "snapshot_id": snap_id,
            "sequence_number": dseq,      # EXPLICIT: the original seq
            "data_file": {
                "content": 1, "file_path": target,
                "file_format": "PARQUET", "partition": {},
                "record_count": n_keep,
                "file_size_in_bytes": os.path.getsize(target),
                "lower_bounds": None, "upper_bounds": None}})

    blob = write_container(_manifest_entry_schema(part_fields), entries)
    mpath = os.path.join(mdir, f"manifest-{tag}.avro")
    with open(mpath, "wb") as fh:
        fh.write(blob)
    min_seq = min(int(e["sequence_number"]) for e in entries)
    manifests = [{
        "manifest_path": mpath, "manifest_length": len(blob),
        "partition_spec_id": sid, "content": 0,
        "added_snapshot_id": snap_id,
        "sequence_number": new_seq,
        "min_sequence_number": min_seq}]
    if delete_entries:
        dblob = write_container(_manifest_entry_schema(None),
                                delete_entries)
        dmpath = os.path.join(mdir, f"manifest-{tag}-del.avro")
        with open(dmpath, "wb") as fh:
            fh.write(dblob)
        manifests.append({
            "manifest_path": dmpath, "manifest_length": len(dblob),
            "partition_spec_id": sid, "content": 1,
            "added_snapshot_id": snap_id,
            "sequence_number": new_seq,
            "min_sequence_number": min(int(e["sequence_number"])
                                       for e in delete_entries)})
    mlpath = os.path.join(mdir, f"snap-{snap_id}-{tag}.avro")
    with open(mlpath, "wb") as fh:
        fh.write(write_container(_MANIFEST_FILE_SCHEMA, manifests))
    new_meta = dict(meta)
    new_meta["snapshots"] = list(meta.get("snapshots") or []) + [{
        "snapshot-id": snap_id, "timestamp-ms": ts,
        "sequence-number": new_seq, "manifest-list": mlpath,
        "summary": {"operation": "replace"}}]
    _advance_head(new_meta, snap_id)
    new_meta["last-updated-ms"] = ts
    new_meta["last-sequence-number"] = new_seq
    return new_meta, snap_id


def _provenance_scan(spark: SparkSession, table_path: str, meta: dict,
                     op: str):
    """Current snapshot WITH ``(_PROV_F, _PROV_P)`` file/position
    provenance and prior row deletes APPLIED — the shared scan behind
    every position-addressed row op (position deletes, DV deletes,
    UPDATE, MERGE): rows already dead in an earlier delete snapshot are
    never re-recorded. It is the snapshot read's own per-file scan, so
    v3 ``initial-default`` and name mapping hold for DML as for reads.
    Returns ``(cur, files, deletes)``, ``files`` keyed by the
    ``_POS_KEY`` every row also carries."""
    deletes: list[dict] = []
    files = {_stored_file_key(spark, table_path, f["file_path"]): f
             for f in live_data_files(spark, table_path, meta, None,
                                      deletes_out=deletes)}
    _need_positions(list(files.values()), op)
    return (_provenance_rows(spark, table_path, meta, files, deletes,
                             list(files.values())), files, deletes)


def _provenance_rows(spark: SparkSession, table_path: str, meta: dict,
                     files: dict[str, dict], deletes: list[dict],
                     subset: list[dict]) -> DataFrame:
    """The ``_provenance_scan`` rows of ``subset``, some of the live
    ``files``."""
    rows = _scan_data_files(spark, table_path, meta, subset, keyed=True)
    if not deletes:
        return rows
    return _apply_row_deletes(spark, rows, table_path,
                              list(files.values()), deletes, meta,
                              drop_helpers=False)


#: provenance columns of DML scans; the row position is the same column
#: the row-delete apply joins on
_PROV_F, _PROV_P = "__ice_prov_f", _POS_IDX


def _stored_path(col):
    """The path string a delete stager stores for a provenance file URI:
    the raw local path, the form this layout's data-file manifests
    store."""
    from pyspark.sql import functions as F

    return F.regexp_replace(_file_key_col(col), "^file:/+", "/")


def _position_delete_entries_distributed(spark: SparkSession, root: str,
                                         pos_df, tag: str,
                                         num_files: int = 1) -> list[dict]:
    """The position-delete stager (VERDICT r12 #2): the doomed
    ``(_PROV_F, _PROV_P)`` positions NEVER reach the driver.
    The frame is hash-routed by file path into ``num_files`` tasks,
    sorted ``(file_path, pos)`` WITHIN each task (the v2 spec's required
    position-delete sort order — global order across files is not
    required, per-file contiguity + ascending pos is), and each task
    streams its Arrow batches through a ``pyarrow.ParquetWriter`` into
    its own delete parquet — footer stats (record_count, size) come back
    as ONE summary row per task, the ``_dv_delete_entries_distributed``
    shape. A 100M-row DELETE on a v2 table therefore costs the driver
    O(num_files), not O(matched rows).

    Same single-writer local-FS staging scope as every writer in this
    module (executors share the driver's filesystem on local[*]; a
    cluster deployment would route these writes through the Hadoop FS
    API exactly like the sidecar writers in ``sinks/writers.py``)."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    keyed = (pos_df
             .select(_stored_path(F.col(_PROV_F)).alias("file_path"),
                     F.col(_PROV_P).cast("long").alias("pos"))
             .repartition(max(1, int(num_files)), "file_path")
             .sortWithinPartitions("file_path", "pos"))

    def _write(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            pa.field("file_path", pa.string(), metadata={
                b"PARQUET:field_id": str(_DELETE_FILE_PATH_FID).encode()}),
            pa.field("pos", pa.int64(), metadata={
                b"PARQUET:field_id": str(_DELETE_POS_FID).encode()})])
        pid = TaskContext.get().partitionId()
        dpath = os.path.join(root, "data", f"delete-{tag}-{pid}.parquet")
        writer = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if writer is None:
                writer = pq.ParquetWriter(dpath, schema)
            writer.write_table(pa.Table.from_pandas(
                pdf, schema=schema, preserve_index=False))
            n += len(pdf)
        if writer is None:
            return
        writer.close()
        yield pd.DataFrame({"path": [dpath], "record_count": [n],
                            "file_size": [os.path.getsize(dpath)]})

    rows = keyed.mapInPandas(
        _write, "path string, record_count long, file_size long").collect()
    return [{"status": STATUS_ADDED,
             "data_file": {
                 "content": 1, "file_path": r.path,
                 "file_format": "PARQUET", "partition": {},
                 "record_count": int(r.record_count),
                 "file_size_in_bytes": int(r.file_size),
                 "lower_bounds": None, "upper_bounds": None}}
            for r in sorted(rows, key=lambda r: r.path)]


def _dv_delete_entries_distributed(spark: SparkSession, table_path: str,
                                   root: str, meta: dict, pos_df,
                                   deletes: list[dict], tag: str
                                   ) -> tuple[list[dict], set[str]]:
    """The deletion-vector stager: ``pos_df`` is a DataFrame of
    ``(_PROV_F, _PROV_P)`` doomed positions; each affected file's roaring
    bitmap builds EXECUTOR-side (``groupBy(file).applyInPandas``, prior
    DVs broadcast for the union) and the driver receives ONE
    (path, blob, cardinality) row per affected file — never the doomed
    rows themselves. Mirrors the Delta writer's ``_dv_stamp_actions``
    engine; the v3 one-DV-per-file supersede set is computed from the
    affected-file list (itself O(files))."""
    from pyspark.sql import functions as F

    from . import delta_dv, puffin

    keyed = pos_df.select(_stored_path(F.col(_PROV_F)).alias("fp"),
                          F.col(_PROV_P).cast("long").alias("pos"))
    affected = sorted(r.fp for r in keyed.select("fp")
                      .distinct().collect())       # O(affected files)
    if not affected:
        return [], set()

    def _ref_key(p: str) -> str:
        return _stored_file_key(spark, table_path, p)

    new_keys = {_ref_key(fp): fp for fp in affected}
    superseded: set[str] = set()
    prior_by_fp: dict[str, bytes] = {}
    raw_cache: dict[str, bytes] = {}
    for d in deletes:
        if d.get("content_offset") is None:
            continue
        k = _ref_key(d["referenced_data_file"])
        if k not in new_keys:
            continue
        old_ppath = _resolve_path(table_path, d["file_path"])
        raw = raw_cache.get(old_ppath)
        if raw is None:
            raw = _read_bytes(spark, old_ppath)
            raw_cache[old_ppath] = raw
        prior_by_fp[new_keys[k]] = puffin.read_puffin_blob(
            raw, int(d["content_offset"]),
            int(d["content_size_in_bytes"]))
        superseded.add(k)
    bc_prior = spark.sparkContext.broadcast(prior_by_fp)

    def _build(pdf):
        import numpy as np
        import pandas as pd

        from databricks_import_pyspark_scripts_spark.sources import (
            delta_dv as dv_mod,
        )

        fp = str(pdf["fp"].iloc[0])
        rows = np.unique(pdf["pos"].to_numpy(dtype=np.int64))
        old = bc_prior.value.get(fp)
        if old is not None:
            rows = np.union1d(
                dv_mod.deserialize_bitmap_array(old), rows)
        return pd.DataFrame({"fp": [fp],
                             "blob": [dv_mod.serialize_bitmap_array(rows)],
                             "card": [int(rows.size)]})

    built = {r.fp: (bytes(r.blob), int(r.card))
             for r in keyed.groupBy("fp").applyInPandas(
                 _build, "fp string, blob binary, card long").collect()}

    ppath = os.path.join(root, "data", f"dv-{tag}.puffin")
    order = sorted(built)
    blobs = [{"type": "deletion-vector-v1", "data": built[fp][0],
              "properties": {"referenced-data-file": fp,
                             "cardinality": str(built[fp][1])}}
             for fp in order]
    descs = puffin.write_puffin_file(ppath, blobs)
    entries = []
    for fp, d in zip(order, descs):
        entries.append({
            "status": STATUS_ADDED,
            "data_file": {
                "content": 1, "file_path": ppath,
                "file_format": "PUFFIN", "partition": {},
                "record_count": built[fp][1],
                "file_size_in_bytes": os.path.getsize(ppath),
                "lower_bounds": None, "upper_bounds": None,
                "referenced_data_file": fp,
                "content_offset": int(d["offset"]),
                "content_size_in_bytes": int(d["length"])}})
    return entries, superseded


def write_iceberg_position_deletes(spark: SparkSession, table_path: str,
                                   predicate_sql: str) -> int:
    """Append one MERGE-ON-READ delete snapshot to a staged Iceberg
    table: rows of the CURRENT snapshot matching ``predicate_sql`` become
    ``(file_path, pos)`` records in a position-delete parquet file
    (spec-reserved field ids 2147483546/2147483545), referenced by a
    content=1 delete manifest in a new snapshot's manifest list. Returns
    the new snapshot id. One attempt of ``_row_ops`` (a lost race
    raises ``IcebergCommitConflict``); ``iceberg_delete_where`` is the
    retrying verb. The doomed pairs sort and write inside tasks; the
    driver sees one row per delete file (VERDICT r12 #2)."""
    table = _local_rows(spark, table_path, "write_iceberg_position_deletes")
    if int(read_table_metadata(spark, table_path)
           .get("format-version", 1)) >= 3:
        raise IcebergProtocolError(
            "position-delete FILES are deprecated in format-version 3 "
            "(writers must use deletion vectors) — use "
            "write_iceberg_dv_deletes / iceberg_delete_where, which "
            "picks the v3 layout automatically")
    return _row_ops(spark, table, "position deletes", "position", 0,
                    "delete", functools.partial(_derive_delete,
                                                predicate_sql))


def write_iceberg_dv_deletes(spark: SparkSession, table_path: str,
                             predicate_sql: str) -> int:
    """Append one FORMAT-VERSION-3 delete snapshot whose row deletes are
    PUFFIN DELETION VECTORS (``deletion-vector-v1`` blobs — the roaring
    bitmap layout v3 standardized, shared with Delta DVs): matching
    rows' positions group into one bitmap per data file, all bitmaps
    land in ONE puffin file, and each file gets a content=1 manifest
    entry carrying ``referenced_data_file`` + ``content_offset`` +
    ``content_size_in_bytes`` (the v3 DV descriptor). The commit bumps
    the table's format-version to 3. One attempt of ``_row_ops``, like
    the position-delete writer; the bitmaps build executor-side and the
    driver receives one (path, blob, cardinality) row per affected
    file."""
    return _row_ops(spark, _local_rows(spark, table_path,
                                       "write_iceberg_dv_deletes"),
                    "deletion vectors", "dv", 0, "delete",
                    functools.partial(_derive_delete, predicate_sql))


def _retire_superseded_dvs(spark: SparkSession, table_path: str,
                           mdir: str, manifests: list[dict],
                           keys: set[str], new_snap: int) -> list[dict]:
    """Carried-manifest filter for DV replacement: each prior content=1
    manifest holding a deletion-vector entry whose referenced data file
    is in ``keys`` is rewritten WITHOUT those entries; survivors carry
    their effective sequence numbers explicitly (EXISTING status, so no
    inheritance is needed). A manifest left empty is dropped. This
    repo's delete writers always stamp delete entries with partition {},
    so the partition-field-free entry schema round-trips them."""
    out: list[dict] = []
    for mf in manifests:
        if int(mf.get("content") or 0) != 1:
            out.append(mf)
            continue
        _, ents = read_container(_read_bytes(
            spark, _resolve_path(table_path, mf["manifest_path"])))
        mf_seq = int(mf.get("sequence_number") or 0)
        live = [e for e in ents
                if int(e.get("status") or 0) != STATUS_DELETED]
        doomed = [e for e in live
                  if (e.get("data_file") or {}).get("content_offset")
                  is not None
                  and _stored_file_key(
                      spark, table_path,
                      e["data_file"]["referenced_data_file"]) in keys]
        if not doomed:
            out.append(mf)
            continue
        survivors = []
        for e in live:
            if e in doomed:
                continue
            own = e.get("sequence_number")
            # EXISTING entries must retain the snapshot id of the
            # snapshot that ADDED the file (Iceberg spec) — stamping
            # new_snap would make incremental readers misattribute the
            # surviving DVs to the superseding commit (ADVICE r11 #2).
            survivors.append({
                "status": STATUS_EXISTING,
                "snapshot_id": e.get("snapshot_id")
                if e.get("snapshot_id") is not None
                else int(mf.get("added_snapshot_id") or new_snap),
                "sequence_number": int(own) if own is not None
                else mf_seq,
                "data_file": e["data_file"]})
        if not survivors:
            continue
        blob = write_container(_manifest_entry_schema(), survivors)
        # uuid-named: a racer building the same snapshot id must not
        # overwrite a manifest the winner's commit references
        rpath = os.path.join(mdir, f"manifest-del-{new_snap}-r"
                                   f"{len(out):03d}-{uuid.uuid4().hex}.avro")
        with open(rpath, "wb") as f:
            f.write(blob)
        out.append({
            "manifest_path": rpath, "manifest_length": len(blob),
            "partition_spec_id": 0, "content": 1,
            "added_snapshot_id": new_snap,
            "sequence_number": mf_seq,
            "min_sequence_number": min(int(e["sequence_number"])
                                       for e in survivors)})
    return out


def _commit_delete_snapshot(spark: SparkSession, table_path: str,
                            deletes: list[dict], operation: str,
                            scanned_snapshot_id: int | None = None,
                            **snapshot) -> int:
    """Commit one row-op snapshot — ``deletes`` plus the other
    ``_snapshot_updates`` keywords, e.g. an UPDATE's post-image
    ``data`` — to the file layout, built on the head it publishes over
    (a commit landing between that head read and the create loses the
    CAS and raises ``IcebergCommitConflict`` instead of overwriting it).

    ``scanned_snapshot_id``: the head the CALLER derived its positions
    against. Position deletes reference (file, pos) pairs of a specific
    snapshot — if another commit (compaction, delete, update) lands
    between the caller's scan and this commit's head read, those pairs
    point at retired files and pre-image rows silently survive. So the
    commit requires main to still point there (the catalog's
    assert-ref-snapshot-id), and a drift raises
    ``IcebergCommitConflict`` for the caller's rebase loop. Equality
    deletes pass None: they reference KEYS, which the strictly-older
    sequence rule scopes correctly on whatever head the commit lands
    on."""
    guard = [] if scanned_snapshot_id is None else [
        {"type": "assert-ref-snapshot-id", "ref": "main",
         "snapshot-id": int(scanned_snapshot_id)}]
    return _commit_updates(
        spark, table_path, "delete snapshot", guard,
        lambda head: _snapshot_updates(
            spark, _local_root(table_path), head, operation,
            deletes=deletes, **snapshot))[2]


def _local_rows(spark: SparkSession, table_path: str, verb: str):
    """The file layout as a ``_row_ops`` transport: load the head,
    publish through ``_commit_delete_snapshot`` pinned to that head."""
    root = _writable_root(table_path, verb)
    mdir = os.path.join(root, METADATA_DIR)
    return (table_path, lambda: (root, _head(spark, mdir)[1]),
            lambda root, meta, **snapshot: _commit_delete_snapshot(
                spark, table_path,
                scanned_snapshot_id=meta["current-snapshot-id"],
                **snapshot))


def _row_ops(spark: SparkSession, table, verb: str, mode: str,
             max_retries: int, operation: str, derive) -> int:
    """The one derive → stage → commit loop of DELETE, UPDATE and MERGE
    on both transports (``table``: see ``_commit_loop``). Each attempt
    scans the loaded head with ``_provenance_scan``; ``derive(
    schema_fields, cur, files, scan)`` — ``scan(subset)`` reads some of
    the live ``files`` the same way — is a context manager yielding
    ``(dead_pos, new_rows)``, either possibly None, and holding what it
    persisted until both are staged. New rows stage as data files under
    the default spec, a zero-row file dropped; doomed positions stage as
    a v2 position-delete parquet, or as deletion vectors when
    ``mode='dv'`` or the table is already format-version 3 (v3
    deprecates position-delete files), unioned with any prior DV of the
    same file. Nothing staged -> no commit; a lost race re-derives
    against the new head."""
    if mode not in ("position", "dv"):
        raise ValueError(f"mode must be position|dv, got {mode!r}")

    def attempt(root: str, meta: dict):
        fields = _current_schema(meta)["fields"]
        cur, files, prior = _provenance_scan(spark, root, meta, verb)
        scan = functools.partial(_provenance_rows, spark, root, meta,
                                 files, prior)
        tag = uuid.uuid4().hex[:12]
        spec_id, part_fields = _default_spec_part_fields(meta, fields)
        snapshot = {"operation": operation, "deletes": [], "data": [],
                    "part_fields": part_fields, "spec_id": spec_id}
        with derive(fields, cur, files, scan) as (dead, new_rows):
            if new_rows is not None:
                for e in _stage_commit(spark, new_rows, root, fields,
                                       part_fields, _next_snapshot_id(meta),
                                       tag):
                    if e["data_file"]["record_count"]:
                        snapshot["data"].append(e)
                    else:
                        os.remove(e["data_file"]["file_path"])
            if dead is not None and (
                    mode == "dv" or int(meta.get("format-version", 1)) >= 3):
                snapshot["deletes"], snapshot["supersede_dv_keys"] = \
                    _dv_delete_entries_distributed(spark, root, root, meta,
                                                   dead, prior, tag)
                if snapshot["deletes"]:
                    snapshot["format_version"] = 3
            elif dead is not None:
                snapshot["deletes"] = _position_delete_entries_distributed(
                    spark, root, dead, tag)
        return snapshot if snapshot["deletes"] or snapshot["data"] \
            else None

    return _commit_loop(table, verb, max_retries, attempt)


def _derive_delete(predicate_sql: str, schema_fields: list[dict],
                   cur: DataFrame, files: dict, scan):
    """DELETE's ``_row_ops`` derivation: the matched rows' positions."""
    from pyspark.sql import functions as F

    return contextlib.nullcontext(
        (cur.filter(F.expr(predicate_sql)).select(_PROV_F, _PROV_P), None))


def _derive_update(predicate_sql: str, set_exprs: dict[str, str],
                   schema_fields: list[dict], cur: DataFrame, files: dict,
                   scan):
    """UPDATE's ``_row_ops`` derivation: the matched rows' positions die
    and their post-images are re-inserted, every SET expression bound to
    the PRE-update row."""
    from pyspark.sql import functions as F

    bad = [c for c in set_exprs
           if c not in {f["name"] for f in schema_fields}]
    if bad:
        raise ValueError(f"SET columns {bad} absent from the table "
                         f"schema")
    matched = cur.filter(F.expr(predicate_sql))
    post = matched.select(*[
        F.expr(set_exprs.get(f["name"], f["name"]))
        .cast(_spark_type(f["type"])).alias(f["name"])
        for f in schema_fields])
    return contextlib.nullcontext((matched.select(_PROV_F, _PROV_P), post))


def write_iceberg_equality_deletes(spark: SparkSession, table_path: str,
                                   delete_rows: DataFrame,
                                   equality_cols: list[str]) -> int:
    """Append one EQUALITY delete snapshot: ``delete_rows`` (one row per
    deleted key, columns exactly ``equality_cols``) becomes a content=2
    delete parquet carrying the schema's field ids, referenced by a
    content=1 delete manifest with ``equality_ids``. The snapshot's
    sequence number scopes it: data files committed at or after it are
    NOT affected (the v2 strictly-older rule a CDC upsert relies on).
    Same staging scope as ``write_iceberg_position_deletes``; the delete
    keys stream executor-side through one task's ParquetWriter — the
    driver never receives them (VERDICT r12 #2)."""
    import pyarrow as pa

    root = _writable_root(table_path, "write_iceberg_equality_deletes")
    meta = read_table_metadata(spark, table_path)
    if any((f.get("file_format") or "PARQUET").upper() == "ORC"
           for f in live_data_files(spark, table_path, meta, None,
                                    deletes_out=[])):
        raise IcebergProtocolError(
            "equality deletes over ORC data files: the merge-on-read "
            "row-delete apply path is parquet-only — committing the "
            "delete would brick every subsequent read")
    fields = {f["name"]: f for f in _current_schema(meta)["fields"]
              if isinstance(f["type"], str)}
    missing = [c for c in equality_cols if c not in fields]
    if missing:
        raise ValueError(f"equality columns {missing} absent from the "
                         f"table schema")
    if sorted(delete_rows.columns) != sorted(equality_cols):
        raise ValueError("delete_rows columns must be exactly "
                         "equality_cols")
    eq_ids = [int(fields[c]["id"]) for c in equality_cols]
    dpath = os.path.join(root, "data",
                         f"eq-delete-{_next_snapshot_id(meta)}.parquet")
    # arrow types from the TABLE schema, never pandas inference (an
    # all-NULL key column would otherwise infer float64 and the read
    # fail on parquet type mismatch)
    _pa_of = {"long": pa.int64(), "int": pa.int32(),
              "double": pa.float64(), "float": pa.float32(),
              "string": pa.string(), "boolean": pa.bool_(),
              "date": pa.date32(), "timestamptz": pa.timestamp("us"),
              "timestamp": pa.timestamp("us")}
    arrow_schema = pa.schema([
        pa.field(c, _pa_of.get(fields[c]["type"], pa.string()),
                 metadata={b"PARQUET:field_id":
                           str(fields[c]["id"]).encode()})
        for c in equality_cols])

    # executor-side staging (VERDICT r12 #2): the distinct key set
    # streams through a single task's ParquetWriter — the driver never
    # receives the keys, only the footer stats row
    def _write(batches):
        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        writer = None
        n = 0
        for kdf in batches:
            if len(kdf) == 0:
                continue
            if writer is None:
                writer = _pq.ParquetWriter(dpath, arrow_schema)
            writer.write_table(_pa.Table.from_pandas(
                kdf, schema=arrow_schema, preserve_index=False))
            n += len(kdf)
        if writer is None:
            return
        writer.close()
        yield _pd.DataFrame({"record_count": [n],
                             "file_size": [os.path.getsize(dpath)]})

    stats = (delete_rows.select(*equality_cols).distinct().coalesce(1)
             .mapInPandas(_write, "record_count long, file_size long")
             .collect())
    if not stats:
        # DML semantics: no keys -> no commit
        return int(meta["current-snapshot-id"])
    entry = {"status": STATUS_ADDED,
             "data_file": {
                 "content": 2, "file_path": dpath,
                 "file_format": "PARQUET", "partition": {},
                 "record_count": int(stats[0].record_count),
                 "file_size_in_bytes": int(stats[0].file_size),
                 "lower_bounds": None, "upper_bounds": None,
                 "equality_ids": eq_ids}}
    # no scanned_snapshot_id guard: equality deletes reference KEYS, not
    # (file, pos) pairs — the strictly-older sequence rule makes them
    # correct against whatever head the commit lands on
    return _commit_delete_snapshot(spark, table_path, [entry],
                                   "overwrite")


def iceberg_delete_where(spark: SparkSession, table_path: str,
                         predicate_sql: str, mode: str = "position",
                         equality_cols: list[str] | None = None,
                         max_retries: int = 5) -> int:
    """First-class row-level DML: ``DELETE FROM <iceberg table> WHERE
    <predicate>`` as ONE atomic optimistic commit (VERDICT r11 #2 — the
    verb a GDPR erasure or CDC correction on a MoR table needs; the
    Delta-side template is ``sinks/delta_writer.delete_where``).

    ``mode`` picks the physical delete layout, all merge-on-read (no
    data bytes move; the scan applies them):

    * ``'position'`` — positional deletes in the table's spec-correct
      layout: a v2 position-delete parquet (field ids 2147483546/45),
      or deletion vectors when the table is already format-version 3
      (v3 deprecates position-delete files; writing one there would be
      spec-invalid).
    * ``'dv'`` — v3 puffin deletion vectors, one bitmap per affected
      file; any prior DV on a re-touched file is unioned and retired in
      the same commit (the spec's one-DV-per-data-file rule).
    * ``'equality'`` — equality-delete parquet on ``equality_cols``:
      the delete KEYS are the distinct ``equality_cols`` tuples of
      CURRENT rows matching the predicate. Equality deletes kill every
      strictly-older row agreeing on the key, so exact DELETE-WHERE
      semantics require the predicate to reference only
      ``equality_cols`` — enforced loudly below.

    Returns the new snapshot id, or the UNCHANGED current snapshot id
    when nothing matched (no empty commit). On a lost metadata CAS the
    operation reloads the head, RE-DERIVES the matching rows against
    the new state, and retries — ``_row_ops``, the loop the catalog's
    ``delete_where_via_catalog`` runs too, which is what makes this a
    real DML verb rather than a staging utility: concurrent appends
    interleave safely and the predicate is always evaluated on the
    state it commits against."""
    if mode not in ("position", "dv", "equality"):
        raise ValueError(f"mode must be position|dv|equality, got {mode!r}")
    if mode != "equality":
        return _row_ops(spark, _local_rows(spark, table_path,
                                           "iceberg_delete_where"),
                        "DELETE WHERE", mode, max_retries, "delete",
                        functools.partial(_derive_delete, predicate_sql))
    if not equality_cols:
        raise ValueError("mode='equality' requires equality_cols")
    meta0 = read_table_metadata(spark, table_path)
    names = [f["name"] for f in _current_schema(meta0)["fields"]
             if isinstance(f["type"], str)]
    referenced = [c for c in names
                  if re.search(rf"\b{re.escape(c)}\b", predicate_sql)]
    broader = [c for c in referenced if c not in equality_cols]
    if broader:
        raise ValueError(
            f"equality-mode DELETE WHERE: predicate references "
            f"non-key columns {broader} — an equality delete kills "
            f"every row agreeing on {equality_cols}, which would "
            f"delete MORE than the predicate matches. Use "
            f"mode='position'/'dv', or restrict the predicate to "
            f"the key columns")

    from pyspark.sql import functions as F

    last: Exception | None = None
    for _ in range(max_retries + 1):
        try:
            keys = (read_iceberg_snapshot(spark, table_path)
                    .filter(F.expr(predicate_sql))
                    .select(*equality_cols).distinct())
            return write_iceberg_equality_deletes(
                spark, table_path, keys, equality_cols)
        except IcebergCommitConflict as exc:
            last = exc  # head moved: loop re-scans and re-derives
    raise IcebergCommitConflict(
        f"DELETE WHERE on {table_path} lost {max_retries + 1} commit "
        f"races") from last


def iceberg_update_where(spark: SparkSession, table_path: str,
                         predicate_sql: str, set_exprs: dict[str, str],
                         mode: str = "position",
                         max_retries: int = 5) -> int:
    """First-class ``UPDATE <iceberg table> SET ... WHERE <predicate>``
    as ONE atomic merge-on-read commit: the matched rows' positions
    become row deletes (v2 position-delete parquet, or deletion vectors
    when ``mode='dv'`` or the table is already format-version 3) and
    their POST-IMAGE rows land as new data files — both referenced by
    the SAME snapshot, so no reader can observe the delete without the
    re-insert (the rewrite-free UPDATE a Flink/Spark MoR writer
    produces; Delta-side template ``sinks/delta_writer.update_where``).

    ``set_exprs`` maps column -> SQL expression evaluated on the
    PRE-UPDATE row (so a self-referential ``{"v": "v + 1"}`` with ``v``
    in the predicate binds to pre-update values — the exact trap the
    r11 Delta UPDATE fix covered). NULL-predicate rows are kept
    unchanged, SQL semantics. Nothing matched -> no commit. A lost
    metadata CAS reloads, re-derives matches against the new head, and
    retries (staged files from a lost round stay unreferenced orphans —
    harmless, same as every optimistic Iceberg writer).

    Scale shape: the doomed positions and the post-images stage
    executor-side; the driver sees one row per staged file."""
    return _row_ops(spark, _local_rows(spark, table_path,
                                       "iceberg_update_where"),
                    "UPDATE WHERE", mode, max_retries, "overwrite",
                    functools.partial(_derive_update, predicate_sql,
                                      set_exprs))


@contextlib.contextmanager
def _derive_merge(source: DataFrame, on: list[str],
                  when_matched_update: dict[str, str] | None,
                  when_matched_delete: str | None,
                  when_not_matched_insert: bool,
                  schema_fields: list[dict], cur: DataFrame, files: dict,
                  scan):
    """MERGE's ``_row_ops`` derivation on both transports: validates the
    clause arguments and plans the merge with
    ``operators.merge.two_pass_merge``. The matched rows' provenance are
    the dead positions; the update post-images and the inserts are the
    new rows."""
    from pyspark.sql import functions as F

    from ..operators.merge import two_pass_merge

    names = [f["name"] for f in schema_fields]
    bad_on = [c for c in on if c not in names]
    if bad_on:
        raise ValueError(f"merge keys {bad_on} are not table columns")
    if when_matched_update:
        bad = [c for c in when_matched_update if c not in names]
        if bad:
            raise ValueError(f"SET columns {bad} absent from the "
                             f"table schema")
    missing_src = [c for c in names if c not in source.columns]
    if when_not_matched_insert and missing_src:
        raise ValueError(
            f"insert clause needs the full table schema on the "
            f"source; missing {missing_src}")
    types = {f["name"]: _spark_type(f["type"]) for f in schema_fields}
    with two_pass_merge(cur, scan, files, _POS_KEY, on, source, types,
                        when_matched_update, when_matched_delete,
                        when_not_matched_insert) as m:
        dead, parts = None, []
        if m.joined is not None:
            dead = m.joined.filter(m.delete | m.update).select(
                F.col(f"t.{_PROV_F}").alias(_PROV_F),
                F.col(f"t.{_PROV_P}").alias(_PROV_P))
            if when_matched_update is not None:
                parts.append(m.joined.filter(m.update).select(*m.post))
        if m.inserts is not None:
            parts.append(m.inserts.select(
                *[F.col(c).cast(dt).alias(c) for c, dt in types.items()]))
        yield dead, functools.reduce(DataFrame.unionByName, parts) \
            if parts else None


def iceberg_merge_into(spark: SparkSession, table_path: str,
                       source: DataFrame, on: list[str],
                       when_matched_update: dict[str, str] | None = None,
                       when_matched_delete: str | None = None,
                       when_not_matched_insert: bool = True,
                       mode: str = "position",
                       max_retries: int = 5) -> int:
    """``MERGE INTO <iceberg table> t USING <source> s ON <keys>`` as ONE
    atomic merge-on-read commit — the upsert verb a CDC consumer needs,
    completing the DML trio with ``iceberg_delete_where`` /
    ``iceberg_update_where``. Clause semantics mirror the Delta writer
    (``sinks/delta_writer.merge_into``):

    * ``when_matched_update``: ``{target_col: sql_expr}`` over the
      joined row — QUALIFY columns as ``t.<col>`` / ``s.<col>`` (both
      sides expose the same names; a bare name is ambiguous and Spark
      rejects it).
    * ``when_matched_delete``: SQL condition (same namespace) selecting
      matched rows to DELETE instead; evaluated BEFORE update (Delta's
      clause order) — a matched row failing it falls through to update.
    * ``when_not_matched_insert``: insert source rows with no target
      match (source must carry the full table schema).

    Physical form (no rewrite, MoR): matched rows' old positions become
    position deletes (or deletion vectors, ``mode='dv'`` / v3 tables);
    update post-images and inserts stage as new data files; one snapshot
    references all of it. The plan is the Delta writer's: one
    aggregate over the target's keys, then one persisted join over the
    files a source key hits (``operators.merge.two_pass_merge``), which
    serves the position deletes, the post-images and the inserts. With
    a matched clause, multiple source rows matching one target row raise
    ``ValueError`` (nondeterministic-merge protection) before anything
    is staged; an insert-only merge takes them. Nothing matched AND
    nothing to insert -> no commit. A lost metadata CAS re-derives
    against the new head and retries."""
    return _row_ops(spark, _local_rows(spark, table_path,
                                       "iceberg_merge_into"),
                    "MERGE INTO", mode, max_retries, "overwrite",
                    functools.partial(_derive_merge, source, on,
                                      when_matched_update,
                                      when_matched_delete,
                                      when_not_matched_insert))


# ---------------------------------------------------------------------------
# change feed synthesis (the Delta CDF analogue for Iceberg sources)

def read_iceberg_changes(spark: SparkSession, table_path: str,
                         starting_ordinal: int,
                         ending_ordinal: int) -> DataFrame:
    """Change rows for snapshot ordinals in ``(starting, ending]`` with the
    Delta-CDF-shaped metadata columns ``_change_type / _commit_version /
    _commit_timestamp`` (``_commit_version`` = snapshot ORDINAL, matching
    the versioned-source convention).

    Iceberg serves no explicit change files here, so changes are
    SYNTHESIZED from the live-file-set DIFF between consecutive snapshots
    — exactly the whole-file insert/delete fallback the Delta reader uses
    for commits without cdc actions: a file entering the live set is an
    insert of its rows, a file leaving it is a delete (served by
    re-reading the departed file, which snapshot expiration may have
    dropped — that raises loudly and the caller's retry ladder downgrades
    to latest-only). Row-level rewrites (a file replaced by a trimmed
    copy) appear as full-file delete + insert pairs, the same
    over-approximation Delta's fallback makes.

    MERGE-ON-READ snapshots compose: an ordinal step where either side
    carries live delete files diffs the EFFECTIVE row sets instead — a
    row's identity is its physical position (file key, row index), so
    ``effective(o) anti-join effective(o-1)`` on that identity yields
    exactly the inserted rows and the reverse the deleted ones,
    whatever mix of position/equality deletes produced them (a new
    delete file surfaces as deletes of precisely the rows it newly
    kills; a row already dead at o-1 is never re-reported). Delete-free
    steps keep the cheaper whole-file path.

    Delete-free versions batch into at most two scans (inserts /
    deletes) with the ordinal attached from a broadcast file map —
    never one scan per snapshot; each MoR step costs two effective
    scans + two anti-joins (steps are incremental-bounded in the CDC
    use this serves).

    Shares ``read_iceberg_snapshot``'s session-wide
    ``spark.sql.parquet.fieldId.read.enabled`` side effect (see its
    docstring; the conf must hold when the lazy scan executes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    meta = read_table_metadata(spark, table_path)
    table_path = iceberg_table_root(table_path, meta)
    snaps = sorted(meta.get("snapshots") or [],
                   key=lambda s: s.get("timestamp-ms") or 0)
    if ending_ordinal >= len(snaps) or starting_ordinal < -1:
        raise FileNotFoundError(
            f"CHANGELOG_NOT_FOUND: snapshot ordinals "
            f"({starting_ordinal}, {ending_ordinal}] out of range "
            f"(table has {len(snaps)} snapshots)")

    def live_state(ordinal: int) -> tuple[dict[str, dict], list[dict]]:
        if ordinal < 0:
            return {}, []
        deletes: list[dict] = []
        files = live_data_files(spark, table_path, meta,
                                snaps[ordinal]["snapshot-id"],
                                deletes_out=deletes)
        return {f["file_path"]: f for f in files}, deletes

    _exist_ok: set[str] = set()   # driver FS checks, once per file per feed
    _pairs_memo: dict = {}        # position-delete frames, per delete set

    def raw_keyed(files: dict[str, dict]) -> DataFrame | None:
        """The snapshot read's scan of the given data files WITH the
        row identity columns (``_scan_data_files``: v3 initial-default,
        name mapping), deletes NOT applied — the probe-guarded base of
        the effective form, the r15 flag diff and the whole-file
        batches."""
        if not files:
            return None
        for f in files.values():
            rp = _resolve_path(table_path, f["file_path"])
            if rp not in _exist_ok:
                if not _exists(spark, rp):
                    raise FileNotFoundError(
                        f"DELTA_CHANGE_DATA_FILE_NOT_FOUND: {rp} referenced "
                        f"by a past snapshot but absent (expired?)")
                _exist_ok.add(rp)
        return _scan_data_files(spark, table_path, meta,
                                list(files.values()), keyed=True)

    def effective_keyed(files: dict[str, dict],
                        deletes: list[dict]) -> DataFrame | None:
        """Snapshot's effective rows WITH the (file key, row index)
        identity columns — the diffable form."""
        keyed = raw_keyed(files)
        if keyed is None:
            return None
        return _apply_row_deletes(spark, keyed, table_path,
                                  list(files.values()),
                                  deletes, meta, drop_helpers=False,
                                  memo=_pairs_memo)

    # (the r14 batch-11 per-ordinal effective-set memo is gone with the
    # full-state anti-join it served: the r15 flag diff touches each
    # common file ONCE per step, so there is no shared effective subtree
    # left to reuse; the loud expired-snapshot path is untouched — the
    # _exists probe in raw_keyed still runs once per file per feed.)

    schema = iceberg_spark_schema(meta)
    ins: list[tuple[int, int, dict]] = []   # (ordinal, ts, data file)
    dels: list[tuple[int, int, dict]] = []
    mor_pieces: list[DataFrame] = []
    prev, prev_dels = live_state(starting_ordinal)
    for o in range(starting_ordinal + 1, ending_ordinal + 1):
        cur, cur_dels = live_state(o)
        ts = snaps[o].get("timestamp-ms") or 0
        if prev_dels or cur_dels:
            # MoR step: diff effective row sets on row identity
            _need_positions([*prev.values(), *cur.values()],
                            "merge-on-read ordinal step")

            # r15 (VERDICT r14 #8): decompose the step per FILE instead
            # of anti-joining two full effective states. Row identity is
            # (file key, row index), so a row can only diff against its
            # OWN file's row in the other snapshot:
            #   * files only in cur  -> every effective row is an insert
            #   * files only in prev -> every effective row is a delete
            #   * files in both (same immutable content + seq) -> a row
            #     changes iff its ALIVENESS under the two delete sets
            #     differs; one scan carrying both kill flags
            #     (_mark_row_deletes) emits exactly those rows, with no
            #     state-sized identity shuffle at all.
            #   * a file in both under a DIFFERENT data sequence number
            #     (re-listed by a rewrite) lands in added AND removed:
            #     which deletes apply to it moved with the number, so its
            #     whole effective set before is emitted as deletes and
            #     after as inserts (pinned by test_iceberg.py::
            #     test_change_feed_mor_resequenced_file_is_delete_plus_insert)
            # The r14 shape paid 2 full effective scans + 2 identity-
            # pruned scans + 2 table-state anti-joins per step.
            def _seq(f: dict) -> int:
                return int(f.get("_seq") or 0)

            common = {p: f for p, f in cur.items()
                      if p in prev and _seq(prev[p]) == _seq(f)}
            added = {p: f for p, f in cur.items() if p not in common}
            removed = {p: f for p, f in prev.items() if p not in common}

            def _delsig(ds: list[dict]) -> list[tuple]:
                return sorted((d.get("file_path"), d.get("content"),
                               d.get("_seq"), d.get("content_offset"),
                               d.get("content_size_in_bytes"))
                              for d in ds)

            def _meta_cols(df: DataFrame, ctype: str) -> DataFrame:
                return (df.drop(_POS_KEY, _POS_IDX)
                        .withColumn("_change_type", F.lit(ctype))
                        .withColumn("_commit_version",
                                    F.lit(o).cast("long"))
                        .withColumn("_commit_timestamp",
                                    F.timestamp_millis(F.lit(ts))))

            ins_k = effective_keyed(added, cur_dels)
            if ins_k is not None:
                mor_pieces.append(_meta_cols(ins_k, "insert"))
            del_k = effective_keyed(removed, prev_dels)
            if del_k is not None:
                mor_pieces.append(_meta_cols(del_k, "delete"))
            if common and _delsig(prev_dels) != _delsig(cur_dels):
                recs = list(common.values())
                marked = _mark_row_deletes(
                    spark, raw_keyed(common), table_path, recs,
                    prev_dels, meta, "__dead_prev", memo=_pairs_memo)
                marked = _mark_row_deletes(
                    spark, marked, table_path, recs,
                    cur_dels, meta, "__dead_cur", memo=_pairs_memo)
                changed = (marked
                           .filter(F.col("__dead_prev")
                                   != F.col("__dead_cur"))
                           .withColumn("_change_type",
                                       F.when(F.col("__dead_prev"),
                                              F.lit("insert"))
                                       .otherwise(F.lit("delete")))
                           .drop("__dead_prev", "__dead_cur"))
                mor_pieces.append(
                    changed.drop(_POS_KEY, _POS_IDX)
                    .withColumn("_commit_version", F.lit(o).cast("long"))
                    .withColumn("_commit_timestamp",
                                F.timestamp_millis(F.lit(ts))))
        else:
            ins += [(o, ts, cur[p]) for p in cur.keys() - prev.keys()]
            dels += [(o, ts, prev[p]) for p in prev.keys() - cur.keys()]
        prev, prev_dels = cur, cur_dels

    pieces = list(mor_pieces)
    for group, ctype in ((ins, "insert"), (dels, "delete")):
        if not group:
            continue
        # scan each file ONCE even when it enters/leaves the live set at
        # several ordinals in the range; the broadcast map on the file key
        # then fans each row out to every (ordinal, ts) the file changed
        # at — the correct multiplicity
        fmap = local_frame(
            spark, [(_stored_file_key(spark, table_path, f["file_path"]),
                     o, ts) for o, ts, f in group],
            f"{_POS_KEY} string, __o long, __ts long")
        pieces.append(
            raw_keyed({f["file_path"]: f for _, _, f in group})
            .join(F.broadcast(fmap), _POS_KEY)
            .withColumn("_change_type", F.lit(ctype))
            .withColumn("_commit_version", F.col("__o"))
            .withColumn("_commit_timestamp",
                        F.timestamp_millis(F.col("__ts"))))

    order = [f.name for f in schema.fields] + [
        "_change_type", "_commit_version", "_commit_timestamp"]
    if not pieces:
        empty = StructType([*schema.fields])
        empty.add("_change_type", "string")
        empty.add("_commit_version", "long")
        empty.add("_commit_timestamp", "timestamp")
        return local_frame(spark, [], empty)
    out = pieces[0].select(*order)
    for p in pieces[1:]:
        out = out.unionByName(p.select(*order))
    return out


# ---------------------------------------------------------------------------
# resumable incremental ingest (the delta_incremental_ingest twin)

def iceberg_tail(spark: SparkSession, table_path: str,
                 last_ordinal: int) -> tuple[DataFrame | None, int]:
    """One micro-ingest increment: the synthesized change rows for
    snapshot ordinals in ``(last_ordinal, current]`` plus the current
    ordinal, or ``(None, last_ordinal)`` when nothing is new (costing one
    metadata read, no Spark job)."""
    meta = read_table_metadata(spark, table_path)
    current = len(meta.get("snapshots") or []) - 1
    if current <= last_ordinal:
        return None, last_ordinal
    return (read_iceberg_changes(spark, table_path, last_ordinal, current),
            current)


def iceberg_incremental_ingest(spark: SparkSession, table_path: str,
                               state_path: str, apply_fn) -> int:
    """One scheduler tick of a repeated bounded pull from an Iceberg
    source with a PERSISTED high-water mark (snapshot ORDINAL) — the
    Iceberg twin of ``delta_log.delta_incremental_ingest``, same mark
    file format, same crash-redelivery contract: a crash after
    ``apply_fn`` but before the mark persists re-delivers the range, so
    ``apply_fn`` must be idempotent on it."""
    from .delta_log import read_ingest_mark, write_ingest_mark

    last = read_ingest_mark(spark, state_path)
    df, current = iceberg_tail(spark, table_path, last)
    if df is None:
        return last
    apply_fn(df, last, current)
    write_ingest_mark(spark, state_path, current)
    return current


# ---------------------------------------------------------------------------
# metadata tables (SELECT * FROM tbl.snapshots / .files / .refs / ...)

def iceberg_metadata_table(spark: SparkSession, table_path: str,
                           kind: str,
                           snapshot_id: int | None = None) -> DataFrame:
    """Iceberg's queryable metadata tables as DataFrames — the
    ``tbl.snapshots`` / ``tbl.history`` / ``tbl.refs`` / ``tbl.files`` /
    ``tbl.manifests`` / ``tbl.partitions`` surfaces an operator uses to
    audit a table without scanning it. All driver-side METADATA reads
    (the same manifest decode the snapshot scan plans with, parallel
    above the threshold); row counts are file/snapshot-bounded, never
    data-bounded — exactly why these tables stay cheap at 100 TB.
    ``files``/``manifests``/``partitions`` accept ``snapshot_id``
    (default: current)."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, IntegerType, LongType, MapType, StringType,
        StructField, StructType,
    )

    meta = read_table_metadata(spark, table_path)
    root = iceberg_table_root(table_path, meta)
    cur = meta.get("current-snapshot-id")

    if kind == "snapshots":
        schema = StructType([
            StructField("snapshot_id", LongType(), False),
            StructField("timestamp_ms", LongType()),
            StructField("sequence_number", LongType()),
            StructField("operation", StringType()),
            StructField("manifest_list", StringType()),
            StructField("is_current", BooleanType()),
        ])
        rows = [(int(s["snapshot-id"]), s.get("timestamp-ms"),
                 s.get("sequence-number"),
                 (s.get("summary") or {}).get("operation"),
                 s.get("manifest-list"),
                 s.get("snapshot-id") == cur)
                for s in sorted(meta.get("snapshots") or [],
                                key=lambda s: s.get("timestamp-ms") or 0)]
        return local_frame(spark, rows, schema)

    if kind == "history":
        schema = StructType([
            StructField("made_current_at_ms", LongType()),
            StructField("snapshot_id", LongType(), False),
            StructField("is_current_ancestor", BooleanType()),
        ])
        rows = [(s.get("timestamp-ms"), int(s["snapshot-id"]),
                 True)  # linear history in this layout: all ancestors
                for s in sorted(meta.get("snapshots") or [],
                                key=lambda s: s.get("timestamp-ms") or 0)]
        return local_frame(spark, rows, schema)

    if kind == "refs":
        schema = StructType([
            StructField("name", StringType(), False),
            StructField("type", StringType()),
            StructField("snapshot_id", LongType()),
        ])
        refs = dict(meta.get("refs") or {})
        if "main" not in refs and cur is not None and int(cur) != -1:
            refs["main"] = {"type": "branch", "snapshot-id": cur}
        rows = [(name, r.get("type"), int(r["snapshot-id"]))
                for name, r in sorted(refs.items())]
        return local_frame(spark, rows, schema)

    if kind == "manifests":
        snap = _snapshot(meta, snapshot_id)
        _, manifests = read_container(_read_bytes(
            spark, _resolve_path(root, snap["manifest-list"])))
        schema = StructType([
            StructField("path", StringType(), False),
            StructField("length", LongType()),
            StructField("partition_spec_id", IntegerType()),
            StructField("content", IntegerType()),
            StructField("added_snapshot_id", LongType()),
            StructField("sequence_number", LongType()),
        ])
        rows = [(m["manifest_path"], m.get("manifest_length"),
                 int(m.get("partition_spec_id") or 0),
                 int(m.get("content") or 0),
                 m.get("added_snapshot_id"),
                 m.get("sequence_number"))
                for m in manifests]
        return local_frame(spark, rows, schema)

    if kind in ("files", "partitions"):
        deletes: list[dict] = []
        files = live_data_files(spark, root, meta, snapshot_id,
                                deletes_out=deletes)
        part_map = [
            {k: (None if v is None else str(v))
             for k, v in (f.get("partition") or {}).items()}
            for f in files]
        if kind == "files":
            schema = StructType([
                StructField("content", IntegerType()),
                StructField("file_path", StringType(), False),
                StructField("file_format", StringType()),
                StructField("record_count", LongType()),
                StructField("file_size_in_bytes", LongType()),
                StructField("partition",
                            MapType(StringType(), StringType())),
            ])
            rows = [(int(f.get("content") or 0), f["file_path"],
                     (f.get("file_format") or "PARQUET").upper(),
                     f.get("record_count"), f.get("file_size_in_bytes"),
                     pm)
                    for f, pm in zip(files, part_map)]
            return local_frame(spark, rows, schema)
        groups: dict[tuple, list[int]] = {}
        for f, pm in zip(files, part_map):
            key = tuple(sorted(pm.items()))
            g = groups.setdefault(key, [0, 0])
            g[0] += int(f.get("record_count") or 0)
            g[1] += 1
        schema = StructType([
            StructField("partition", MapType(StringType(), StringType())),
            StructField("record_count", LongType()),
            StructField("file_count", LongType()),
        ])
        rows = [(dict(k), n, c) for k, (n, c) in sorted(groups.items())]
        return local_frame(spark, rows, schema)

    raise ValueError(
        f"unknown metadata table {kind!r}: snapshots|history|refs|files|"
        f"manifests|partitions")
