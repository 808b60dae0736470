"""Filesystem-faked Iceberg REST catalog: the COMMIT contract real
deployments speak (the ``POST /v1/{prefix}/namespaces/{ns}/tables/{t}``
shape from the Apache Iceberg REST OpenAPI spec — ``requirements`` the
server validates against the CURRENT metadata, ``updates`` it applies,
HTTP 409 on a requirement miss), with the network replaced by local
atomic file creates. The point (VERDICT r10 #6): ``append_iceberg_via_
catalog`` exercises the catalog CAS path the real world uses — stage
once, commit optimistically, rebase-and-retry on conflict — against the
same requirement/update wire shapes, so swapping in a real REST endpoint
changes the transport, not the protocol logic.

Spec derivation (public): the REST catalog OpenAPI document
(``rest-catalog-open-api.yaml`` in apache/iceberg) defines
``TableRequirement`` (assert-create, assert-table-uuid,
assert-ref-snapshot-id, assert-current-schema-id,
assert-default-spec-id) and ``TableUpdate`` (add-snapshot,
set-snapshot-ref, set-properties, remove-properties,
upgrade-format-version, ...) — the subset implemented here covers the
append, WAP publish, and row-level DELETE flows
(``delete_where_via_catalog``).

Reference parity: none — the reference has no catalog layer; extension
surface closing SURVEY gap "catalog-managed Iceberg commits".
"""

from __future__ import annotations

import json
import os
import uuid

from .iceberg import (
    METADATA_DIR,
    IcebergCommitConflict,
    IcebergProtocolError,
    _advance_head,
    _commit_metadata,
    _current_schema,
    _default_spec_part_fields,
    _head,
    _manifest_entry_schema,
    _MANIFEST_FILE_SCHEMA,
    _next_snapshot_id,
    _resolve_path,
    _snapshot,
    _spark_type,
    _stage_commit,
)
from .avro_codec import read_container, write_container


class RestCommitConflict(IcebergCommitConflict):
    """The 409 of the wire protocol: a requirement failed against the
    current table state. Retryable — reload, rebase, recommit."""


class RestBadRequest(ValueError):
    """The 400: a malformed or unsupported requirement/update."""


class FileRestCatalog:
    """One warehouse directory; tables are registered by (namespace,
    name) -> table-root pointers kept in ``<warehouse>/_catalog/``.
    Metadata files stay under each table's own ``metadata/`` dir in the
    HadoopCatalog layout, so every reader in this repo (and the
    version-hint fallback) keeps working on catalog-managed tables.

    The CAS: a commit goes through ``iceberg._commit_metadata`` like
    every local writer — read the head, validate ``requirements``, build
    the new metadata, and publish ``v<head+1>.metadata.json`` complete
    (temp file, fsync, no-overwrite link), so a concurrent ``load_table``
    never sees a half-written version — exactly the conditional-write
    real REST services back with a database row. A lost race surfaces as
    ``RestCommitConflict`` for the client to rebase on, matching the
    409 + reload loop of the wire protocol."""

    def __init__(self, warehouse: str) -> None:
        self.warehouse = warehouse.rstrip("/")
        self._cdir = os.path.join(self.warehouse, "_catalog")
        os.makedirs(self._cdir, exist_ok=True)

    # -- registry -----------------------------------------------------
    def _ptr(self, ns: str, name: str) -> str:
        if "/" in ns or "/" in name:
            raise RestBadRequest("namespace/name must be path-free")
        return os.path.join(self._cdir, f"{ns}.{name}.json")

    def register_table(self, ns: str, name: str, table_root: str) -> None:
        """CREATE-equivalent for an existing HadoopCatalog-layout table
        directory (stageCreate/register endpoint stand-in)."""
        from ..sinks import delta_writer

        ptr = self._ptr(ns, name)
        if not delta_writer._atomic_create(
                None, ptr, json.dumps({"table-root": table_root}).encode()):
            raise FileExistsError(f"table {ns}.{name} is already "
                                  f"registered")

    def _root(self, ns: str, name: str) -> str:
        ptr = self._ptr(ns, name)
        if not os.path.exists(ptr):
            raise FileNotFoundError(f"table {ns}.{name} is not "
                                    f"registered in this catalog")
        return json.load(open(ptr))["table-root"]

    # -- the wire surface ---------------------------------------------
    def load_table(self, ns: str, name: str) -> dict:
        """``GET ../tables/{t}`` -> LoadTableResult (metadata-location
        + metadata)."""
        mdir = os.path.join(self._root(ns, name), METADATA_DIR)
        v, meta = _head(None, mdir)
        return {"metadata-location": os.path.join(
            mdir, f"v{v}.metadata.json"), "metadata": meta}

    def commit_table(self, ns: str, name: str,
                     requirements: list[dict],
                     updates: list[dict]) -> dict:
        """``POST ../tables/{t}`` CommitTableRequest -> new
        LoadTableResult, or RestCommitConflict (409) when a requirement
        fails / the metadata CAS loses."""
        root = self._root(ns, name)

        def build(meta: dict):
            self._check_requirements(meta, requirements)
            new_meta = self._apply_updates(dict(meta), updates)
            return new_meta, new_meta

        try:
            v, new_meta = _commit_metadata(None, root, f"{ns}.{name} commit",
                                           build)
        except RestCommitConflict:
            raise
        except IcebergCommitConflict as exc:
            raise RestCommitConflict(f"{exc}; reload and rebase") from None
        return {"metadata-location": os.path.join(
            root, METADATA_DIR, f"v{v}.metadata.json"),
            "metadata": new_meta}

    # -- requirement validation (TableRequirement) --------------------
    def _check_requirements(self, meta: dict,
                            requirements: list[dict]) -> None:
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

    # -- update application (TableUpdate) -----------------------------
    def _added_records_from_list(self, meta: dict,
                                 sn: dict) -> int | None:
        """Actual data rows the snapshot added (ADVICE r13 #4 — the
        server-side truth a client summary can't spoof): open the
        manifests the snapshot CONTRIBUTED (added_snapshot_id matches,
        data content) from its manifest list and sum the record counts
        of their ADDED entries. None when the list or a manifest is
        absent/unreadable."""
        ml = sn.get("manifest-list")
        if not ml:
            return None
        root = meta.get("location") or ""
        try:
            _, manifests = read_container(
                open(_resolve_path(root, ml), "rb").read())
        except (OSError, ValueError):
            return None
        total = 0
        for mf in manifests:
            if int(mf.get("added_snapshot_id") or -1) != \
                    int(sn["snapshot-id"]):
                continue
            if int(mf.get("content") or 0) != 0:
                continue               # delete manifests add no rows
            try:
                _, entries = read_container(open(_resolve_path(
                    root, mf["manifest_path"]), "rb").read())
            except (OSError, ValueError):
                return None
            for e in entries:
                if int(e.get("status") or 0) != 1:     # ADDED only
                    continue
                total += int((e.get("data_file") or {})
                             .get("record_count") or 0)
        return total

    def _apply_updates(self, meta: dict, updates: list[dict]) -> dict:
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
                        verified = self._added_records_from_list(
                            meta, sn)
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


def append_iceberg_via_catalog(spark, df, catalog: FileRestCatalog,
                               ns: str, name: str,
                               ts_ms: int | None = None,
                               max_retries: int = 10) -> int:
    """TRANSACTIONAL append THROUGH the catalog — the optimistic-commit
    loop every real REST-catalog writer runs: stage data files + the new
    manifest ONCE (uuid-named), then repeatedly (1) load the table, (2)
    build the new snapshot on the current head, (3) POST a commit whose
    ``assert-ref-snapshot-id`` requirement pins the head just read —
    the server 409s if anyone moved it, and the client rebases (prior
    manifests changed; the staged manifest has not). Same physical
    staging as ``append_iceberg``; only the commit transport differs —
    which is the point of the contract test."""
    from pyspark.sql import functions as F

    loaded = catalog.load_table(ns, name)
    meta = loaded["metadata"]
    root = os.path.dirname(os.path.dirname(loaded["metadata-location"]))
    mdir = os.path.join(root, METADATA_DIR)

    schema = _current_schema(meta)
    schema_fields = schema["fields"]
    for f in schema_fields:
        if not isinstance(f["type"], str):
            raise IcebergProtocolError(
                "append supports flat primitive schemas")
    sid, part_fields = _default_spec_part_fields(meta, schema_fields)

    missing = [f["name"] for f in schema_fields
               if f["name"] not in df.columns]
    extra = [c for c in df.columns
             if c not in {f["name"] for f in schema_fields}]
    if missing or extra:
        raise ValueError(f"append frame does not match table schema: "
                         f"missing {missing}, extra {extra}")
    ordered = df.select(*[
        F.col(f["name"]).cast(_spark_type(f["type"])).alias(f["name"])
        for f in schema_fields])

    tag = f"rc{uuid.uuid4().hex[:12]}"
    snap_id = _next_snapshot_id(meta)
    entries = _stage_commit(spark, ordered, root, schema_fields,
                            part_fields, snap_id, tag)
    mpath = os.path.join(mdir, f"manifest-{tag}.avro")

    for _ in range(max_retries + 1):
        base_snap = meta.get("current-snapshot-id")
        seq = int(meta.get("last-sequence-number") or 0) + 1
        ts = (meta.get("last-updated-ms", 0) + 1 if ts_ms is None
              else int(ts_ms))
        for e in entries:
            e["snapshot_id"] = snap_id
        blob = write_container(_manifest_entry_schema(part_fields),
                               entries)
        with open(mpath, "wb") as f:
            f.write(blob)
        new_manifest = {
            "manifest_path": mpath, "manifest_length": len(blob),
            "partition_spec_id": sid, "content": 0,
            "added_snapshot_id": snap_id,
            "sequence_number": seq, "min_sequence_number": seq}
        prior: list[dict] = []
        if base_snap is not None and (meta.get("snapshots") or []):
            cur = _snapshot(meta, base_snap)
            _, prior = read_container(open(_resolve_path(
                root, cur["manifest-list"]), "rb").read())
        mlpath = os.path.join(mdir, f"snap-{snap_id}-{tag}.avro")
        with open(mlpath, "wb") as f:
            f.write(write_container(_MANIFEST_FILE_SCHEMA,
                                    list(prior) + [new_manifest]))
        snapshot = {"snapshot-id": snap_id, "timestamp-ms": ts,
                    "sequence-number": seq, "manifest-list": mlpath,
                    "summary": {"operation": "append"}}
        try:
            catalog.commit_table(
                ns, name,
                requirements=[
                    {"type": "assert-table-uuid",
                     "uuid": meta.get("table-uuid")},
                    {"type": "assert-ref-snapshot-id", "ref": "main",
                     "snapshot-id": base_snap},
                ],
                updates=[
                    {"action": "add-snapshot", "snapshot": snapshot},
                    {"action": "set-snapshot-ref", "ref-name": "main",
                     "type": "branch", "snapshot-id": snap_id},
                ])
            return snap_id
        except RestCommitConflict:
            # 409: reload, re-verify layout-relevant state, rebase
            meta = catalog.load_table(ns, name)["metadata"]
            if _current_schema(meta)["fields"] != schema_fields:
                raise IcebergCommitConflict(
                    f"schema of {ns}.{name} changed concurrently; "
                    f"staged files carry the old field ids") from None
            if _default_spec_part_fields(meta, schema_fields) != \
                    (sid, part_fields):
                raise IcebergCommitConflict(
                    f"partition spec of {ns}.{name} changed "
                    f"concurrently; staged files carry the old "
                    f"layout") from None
            snap_id = _next_snapshot_id(meta)
    raise IcebergCommitConflict(
        f"append to {ns}.{name} lost {max_retries + 1} commit races")


def delete_where_via_catalog(spark, catalog: FileRestCatalog, ns: str,
                             name: str, predicate_sql: str,
                             mode: str = "position",
                             max_retries: int = 10) -> int:
    """Row-level ``DELETE WHERE`` THROUGH the catalog commit protocol —
    the operation a REST-catalog-managed table (where the file layout is
    read-only by contract) needs for GDPR erasure / CDC correction:
    derive the matched rows' position deletes (or deletion vectors;
    ``mode='position'`` auto-upgrades on v3 tables), stage the delete
    files + manifests into the table's storage, and commit ONE snapshot
    via ``CommitTableRequest`` — assert-table-uuid +
    assert-ref-snapshot-id guarding the head, add-snapshot +
    set-snapshot-ref (+ upgrade-format-version for the DV layout)
    applying it. A 409 reloads and RE-DERIVES the matches against the
    new head, the same optimistic loop as ``append_iceberg_via_catalog``.
    Returns the committed snapshot id (unchanged head id when nothing
    matched)."""
    from pyspark.sql import functions as F

    from .iceberg import (
        _PROV_F,
        _PROV_P,
        _dv_delete_entries_distributed,
        _position_delete_entries_distributed,
        _provenance_scan,
        _strip_scheme,
    )

    if mode not in ("position", "dv"):
        raise ValueError(f"mode must be position|dv, got {mode!r}")

    for _ in range(max_retries + 1):
        loaded = catalog.load_table(ns, name)
        meta = loaded["metadata"]
        root = _strip_scheme(os.path.dirname(
            os.path.dirname(loaded["metadata-location"])))
        mdir = os.path.join(root, METADATA_DIR)
        use_dv = mode == "dv" or int(meta.get("format-version", 1)) >= 3

        cur, _, deletes = _provenance_scan(spark, root, meta,
                                           "catalog DELETE WHERE")
        dead_df = cur.filter(F.expr(predicate_sql)) \
            .select(_PROV_F, _PROV_P)
        if not dead_df.take(1):
            return int(meta["current-snapshot-id"])

        tag = f"cd{uuid.uuid4().hex[:12]}"
        keys: set[str] | None = None
        if use_dv:
            entries, keys = _dv_delete_entries_distributed(
                spark, root, root, meta, dead_df, deletes, tag)
        else:
            # executor-side v2 position-delete staging (VERDICT r12 #2)
            entries = _position_delete_entries_distributed(
                spark, root, dead_df, tag)

        committed = _commit_row_ops_via_catalog(
            spark, catalog, ns, name, meta, root, mdir, tag,
            del_entries=entries, supersede_keys=keys,
            data_entries=None, data_part_fields=None, data_spec_id=0,
            op_summary="delete",
            upgrade_v3=use_dv and int(meta.get("format-version", 1)) < 3)
        if committed is not None:
            return committed
        # head moved: reload, re-derive, recommit
    raise IcebergCommitConflict(
        f"catalog DELETE WHERE on {ns}.{name} lost "
        f"{max_retries + 1} commit races")


def _commit_row_ops_via_catalog(spark, catalog: FileRestCatalog,
                                ns: str, name: str, meta: dict,
                                root: str, mdir: str, tag: str,
                                del_entries: list[dict],
                                supersede_keys: set[str] | None,
                                data_entries: list[dict] | None,
                                data_part_fields: list | None,
                                data_spec_id: int,
                                op_summary: str,
                                upgrade_v3: bool) -> int | None:
    """Stage delete/data manifests + the new manifest list into the
    table's storage and commit the snapshot via ``CommitTableRequest``
    (assert-table-uuid + assert-ref-snapshot-id on main; add-snapshot +
    set-snapshot-ref, with upgrade-format-version when the DV layout
    needs v3). Returns the snapshot id, or None on a 409 (the caller's
    optimistic loop reloads and re-derives)."""
    from .iceberg import _retire_superseded_dvs

    base_snap = meta.get("current-snapshot-id")
    snap_id = _next_snapshot_id(meta)
    new_seq = int(meta.get("last-sequence-number") or 0) + 1
    ts = int(meta.get("last-updated-ms") or 0) + 1

    cur_snap = _snapshot(meta, None)
    _, manifests = read_container(open(_resolve_path(
        root, cur_snap["manifest-list"]), "rb").read())
    if supersede_keys:
        manifests = _retire_superseded_dvs(
            spark, root, mdir, manifests, supersede_keys, snap_id)
    all_manifests = list(manifests)
    if del_entries:
        stamped = [{**e, "snapshot_id": snap_id} for e in del_entries]
        mpath = os.path.join(mdir, f"manifest-del-{tag}.avro")
        blob = write_container(_manifest_entry_schema(), stamped)
        with open(mpath, "wb") as f:
            f.write(blob)
        all_manifests.append({
            "manifest_path": mpath, "manifest_length": len(blob),
            "partition_spec_id": 0, "content": 1,
            "added_snapshot_id": snap_id,
            "sequence_number": new_seq, "min_sequence_number": new_seq})
    next_row_id = first_row_id = None
    if data_entries:
        stamped = [{**e, "snapshot_id": snap_id} for e in data_entries]
        if meta.get("next-row-id") is not None:
            # v3 row lineage: fresh ranges for DML-added files
            first_row_id = int(meta["next-row-id"])
            next_row_id = first_row_id
            for e in sorted(stamped,
                            key=lambda e: e["data_file"]["file_path"]):
                e["data_file"]["first_row_id"] = next_row_id
                next_row_id += int(e["data_file"].get("record_count")
                                   or 0)
        dpath = os.path.join(mdir, f"manifest-upd-{tag}.avro")
        dblob = write_container(
            _manifest_entry_schema(data_part_fields or []), stamped)
        with open(dpath, "wb") as f:
            f.write(dblob)
        all_manifests.append({
            "manifest_path": dpath, "manifest_length": len(dblob),
            "partition_spec_id": int(data_spec_id), "content": 0,
            "added_snapshot_id": snap_id,
            "sequence_number": new_seq, "min_sequence_number": new_seq})
    mlpath = os.path.join(mdir, f"snap-{snap_id}-{tag}.avro")
    with open(mlpath, "wb") as f:
        f.write(write_container(_MANIFEST_FILE_SCHEMA, all_manifests))
    snapshot = {"snapshot-id": snap_id, "timestamp-ms": ts,
                "sequence-number": new_seq, "manifest-list": mlpath,
                "summary": {"operation": op_summary}}
    if first_row_id is not None:
        # the v3 spec's wire shape (ADVICE r12 #5): the SNAPSHOT carries
        # first-row-id and the catalog advances table-level next-row-id
        # to first-row-id + assigned rows (summary added-records); the
        # custom next-row-id key stays only as a fallback for catalogs
        # that don't implement the computation
        snapshot["first-row-id"] = first_row_id
        snapshot["summary"]["added-records"] = str(
            next_row_id - first_row_id)
        snapshot["next-row-id"] = next_row_id
    updates = []
    if upgrade_v3:
        updates.append({"action": "upgrade-format-version",
                        "format-version": 3})
    updates += [
        {"action": "add-snapshot", "snapshot": snapshot},
        {"action": "set-snapshot-ref", "ref-name": "main",
         "type": "branch", "snapshot-id": snap_id},
    ]
    try:
        catalog.commit_table(
            ns, name,
            requirements=[
                {"type": "assert-table-uuid",
                 "uuid": meta.get("table-uuid")},
                {"type": "assert-ref-snapshot-id", "ref": "main",
                 "snapshot-id": base_snap},
            ],
            updates=updates)
        return snap_id
    except RestCommitConflict:
        return None


def update_where_via_catalog(spark, catalog: FileRestCatalog, ns: str,
                             name: str, predicate_sql: str,
                             set_exprs: dict[str, str],
                             mode: str = "position",
                             max_retries: int = 10) -> int:
    """``UPDATE ... SET ... WHERE`` through the catalog protocol: the
    matched rows' position deletes (or DVs) AND their post-image data
    files commit in ONE CommitTableRequest snapshot — the
    catalog-managed twin of ``sources.iceberg.iceberg_update_where``.
    SET expressions bind to PRE-update values; nothing matched -> no
    commit; 409 -> reload + re-derive."""
    from pyspark.sql import functions as F

    from .iceberg import (
        _PROV_F,
        _PROV_P,
        _dv_delete_entries_distributed,
        _position_delete_entries_distributed,
        _provenance_scan,
        _strip_scheme,
    )

    if mode not in ("position", "dv"):
        raise ValueError(f"mode must be position|dv, got {mode!r}")

    for _ in range(max_retries + 1):
        loaded = catalog.load_table(ns, name)
        meta = loaded["metadata"]
        root = _strip_scheme(os.path.dirname(
            os.path.dirname(loaded["metadata-location"])))
        mdir = os.path.join(root, METADATA_DIR)
        schema_fields = _current_schema(meta)["fields"]
        for f in schema_fields:
            if not isinstance(f["type"], str):
                raise IcebergProtocolError(
                    "update supports flat primitive schemas")
        names = [f["name"] for f in schema_fields]
        bad = [c for c in set_exprs if c not in names]
        if bad:
            raise ValueError(f"SET columns {bad} absent from the table "
                             f"schema")
        use_dv = mode == "dv" or int(meta.get("format-version", 1)) >= 3

        cur, _, deletes = _provenance_scan(spark, root, meta,
                                           "catalog UPDATE")
        matched = cur.filter(F.expr(predicate_sql))
        post = matched.select(*[
            F.expr(set_exprs.get(f["name"], f["name"]))
            .cast(_spark_type(f["type"])).alias(f["name"])
            for f in schema_fields])
        dead_df = matched.select(_PROV_F, _PROV_P)
        if not dead_df.take(1):
            return int(meta["current-snapshot-id"])

        sid, part_fields = _default_spec_part_fields(meta, schema_fields)
        tag = f"cu{uuid.uuid4().hex[:12]}"
        data_entries = _stage_commit(spark, post, root, schema_fields,
                                     part_fields, _next_snapshot_id(meta),
                                     tag)

        keys: set[str] | None = None
        if use_dv:
            del_entries, keys = _dv_delete_entries_distributed(
                spark, root, root, meta, dead_df, deletes, tag)
        else:
            # executor-side v2 position-delete staging (VERDICT r12 #2)
            del_entries = _position_delete_entries_distributed(
                spark, root, dead_df, tag)

        committed = _commit_row_ops_via_catalog(
            spark, catalog, ns, name, meta, root, mdir, tag,
            del_entries=del_entries, supersede_keys=keys,
            data_entries=data_entries, data_part_fields=part_fields,
            data_spec_id=sid, op_summary="overwrite",
            upgrade_v3=use_dv and int(meta.get("format-version", 1)) < 3)
        if committed is not None:
            return committed
    raise IcebergCommitConflict(
        f"catalog UPDATE WHERE on {ns}.{name} lost "
        f"{max_retries + 1} commit races")


def merge_into_via_catalog(spark, catalog: FileRestCatalog, ns: str,
                           name: str, source, on: list[str],
                           when_matched_update: dict[str, str] | None = None,
                           when_matched_delete: str | None = None,
                           when_not_matched_insert: bool = True,
                           mode: str = "position",
                           max_retries: int = 10) -> int:
    """``MERGE INTO`` through the catalog protocol (VERDICT r12 #5 —
    completing the catalog DML trio): clause derivation is the shared
    ``sources.iceberg._derive_merge`` (matched-delete evaluated first,
    NULL delete conditions falling through to update, nondeterministic-
    match guard), and the old positions' deletes (position parquet or
    DVs) plus the post-image/insert data files commit as ONE
    CommitTableRequest snapshot via ``_commit_row_ops_via_catalog``
    (assert-ref-snapshot-id on main; upgrade-format-version rides the
    same commit when the DV layout needs v3). A 409 reloads the head and
    RE-DERIVES every clause against the new state — the same optimistic
    loop as the catalog DELETE/UPDATE. Pure-insert merges commit no
    delete manifest; nothing matched and nothing to insert -> no commit."""
    from .iceberg import (
        _derive_merge,
        _dv_delete_entries_distributed,
        _position_delete_entries_distributed,
        _provenance_scan,
        _strip_scheme,
    )

    if mode not in ("position", "dv"):
        raise ValueError(f"mode must be position|dv, got {mode!r}")

    for _ in range(max_retries + 1):
        loaded = catalog.load_table(ns, name)
        meta = loaded["metadata"]
        root = _strip_scheme(os.path.dirname(
            os.path.dirname(loaded["metadata-location"])))
        mdir = os.path.join(root, METADATA_DIR)
        schema_fields = _current_schema(meta)["fields"]
        for f in schema_fields:
            if not isinstance(f["type"], str):
                raise IcebergProtocolError(
                    "merge supports flat primitive schemas")
        use_dv = mode == "dv" or int(meta.get("format-version", 1)) >= 3

        cur, _, deletes = _provenance_scan(spark, root, meta,
                                           "catalog MERGE")
        dead_pos, new_rows, doomed_any, has_new = _derive_merge(
            source, on, when_matched_update, when_matched_delete,
            when_not_matched_insert, schema_fields, cur)
        if not doomed_any and not has_new:
            return int(meta["current-snapshot-id"])

        sid, part_fields = _default_spec_part_fields(meta, schema_fields)
        tag = f"cm{uuid.uuid4().hex[:12]}"
        data_entries = None
        if has_new:
            data_entries = _stage_commit(spark, new_rows, root,
                                         schema_fields, part_fields,
                                         _next_snapshot_id(meta), tag)

        del_entries: list[dict] = []
        keys: set[str] | None = None
        if doomed_any:
            if use_dv:
                del_entries, keys = _dv_delete_entries_distributed(
                    spark, root, root, meta, dead_pos, deletes, tag)
            else:
                # executor-side v2 staging (VERDICT r12 #2)
                del_entries = _position_delete_entries_distributed(
                    spark, root, dead_pos, tag)

        committed = _commit_row_ops_via_catalog(
            spark, catalog, ns, name, meta, root, mdir, tag,
            del_entries=del_entries, supersede_keys=keys,
            data_entries=data_entries, data_part_fields=part_fields,
            data_spec_id=sid, op_summary="overwrite",
            upgrade_v3=bool(del_entries) and use_dv
            and int(meta.get("format-version", 1)) < 3)
        if committed is not None:
            return committed
    raise IcebergCommitConflict(
        f"catalog MERGE INTO on {ns}.{name} lost "
        f"{max_retries + 1} commit races")
