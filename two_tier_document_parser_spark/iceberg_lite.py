"""From-scratch Iceberg v2 table layout (public Apache Iceberg table
spec), closing the sandbox's no-runtime-jar gap with a spec-shaped
metadata tree rather than a private manifest format:

    <table>/metadata/v<N>.metadata.json   table metadata (v2 JSON)
    <table>/metadata/version-hint.text    HadoopCatalog commit point
    <table>/metadata/snap-<id>.avro       manifest LIST (Avro)
    <table>/metadata/manifest-<id>.avro   manifest file (Avro)
    <table>/data/<partition>/...parquet   data files (Spark parquet)

The reference pipeline reads "an Iceberg table of interleaved
text+media documents" (north rule); `table_io.IcebergIO` drives the
real runtime when a jar + catalog exist, and this module is the
same contract implemented directly off the spec so the engine's
snapshot semantics are exercised — not stubbed — offline:

- **Atomic commits**: new snapshot = write data files + manifest +
  manifest list + v<N+1>.metadata.json, then one `os.replace` of
  version-hint.text (the HadoopCatalog protocol — readers resolve
  the hint, so a crash anywhere before the hint swap leaves the
  table at the previous snapshot; replayed staging is overwritten).
- **Snapshot isolation + time travel**: `read(snapshot_id=...)`
  resolves any retained snapshot's manifest list; `history()` is the
  snapshot log.
- **Manifest-level partition pruning**: identity-partition values are
  recorded per data file in the manifest (spec field id 102); reads
  with an equality filter prune FILES before Spark ever plans the
  scan — the metadata-side pruning that makes a 10^12-doc table
  readable without listing it.
- **Fast appends**: each commit adds ONE manifest; the manifest list
  carries prior manifests forward by reference (the spec's
  fast-append mode), so commit cost is O(files added), not O(table).

Scale: all metadata work is driver-side and bounded by file COUNTS
(the same contract the real Iceberg library has); row data only ever
moves through Spark's parquet reader/writer. Avro framing comes from
`avro_lite` with Iceberg's field-id annotations intact, so the
emitted tree follows the published layout, byte-decodable by any
conforming Avro reader.
"""

from __future__ import annotations

import json
import os
import uuid

from .avro_lite import read_container, write_container

# Iceberg spec field ids (table spec, "Manifests" / "Manifest Lists")
_SPARK_TO_ICEBERG = {
    "LongType()": "long",
    "IntegerType()": "int",
    "StringType()": "string",
    "DoubleType()": "double",
    "FloatType()": "float",
    "BooleanType()": "boolean",
    "BinaryType()": "binary",
    "DateType()": "date",
    "TimestampType()": "timestamptz",
}


class _IdAlloc:
    """Monotone field-id allocator (the spec: every field, list
    element and map key/value gets a unique id table-wide)."""

    def __init__(self) -> None:
        self.last = 0

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dt, ids: _IdAlloc):
    """Spark DataType -> Iceberg schema-JSON type (recursive: the
    north-rule table is spans: array<struct<...>>, so nested types
    are first-class, not an afterthought)."""
    name = repr(dt)
    if name in _SPARK_TO_ICEBERG:
        return _SPARK_TO_ICEBERG[name]
    cls = type(dt).__name__
    if cls == "StructType":
        return {
            "type": "struct",
            "fields": [
                {
                    "id": ids.next(),
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type(f.dataType, ids),
                }
                for f in dt.fields
            ],
        }
    if cls == "ArrayType":
        return {
            "type": "list",
            "element-id": ids.next(),
            "element-required": not dt.containsNull,
            "element": _iceberg_type(dt.elementType, ids),
        }
    if cls == "MapType":
        return {
            "type": "map",
            "key-id": ids.next(),
            "key": _iceberg_type(dt.keyType, ids),
            "value-id": ids.next(),
            "value-required": not dt.valueContainsNull,
            "value": _iceberg_type(dt.valueType, ids),
        }
    raise TypeError(f"unsupported column type for iceberg_lite: {name}")


def _partition_schema(fields: list[tuple[str, str]]) -> dict:
    # r102: the data_file.partition struct — identity transforms only
    avro_t = {"string": "string", "long": "long", "int": "int"}
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": n,
                "type": ["null", avro_t[t]],
                "default": None,
                "field-id": 1000 + i,
            }
            for i, (n, t) in enumerate(fields)
        ],
    }


def _bounds_schema(kid: int, vid: int) -> dict:
    # the spec's map-as-array-of-kv shape: array<struct<key:int,
    # value:binary>> with per-field ids (e.g. k126_v127)
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": f"k{kid}_v{vid}",
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": "bytes", "field-id": vid},
            ],
        },
    }


def _manifest_entry_schema(part_schema: dict) -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {
                "name": "file_size_in_bytes",
                "type": "long",
                "field-id": 104,
            },
            {
                "name": "lower_bounds",
                "type": ["null", _bounds_schema(126, 127)],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _bounds_schema(129, 130)],
                "default": None,
                "field-id": 128,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


def _encode_bound(v, itype: str) -> bytes | None:
    """Spec 'binary single-value serialization' for the types this
    layer tracks stats on: long/int little-endian fixed width,
    string utf-8."""
    if v is None:
        return None
    if itype == "long":
        return int(v).to_bytes(8, "little", signed=True)
    if itype == "int":
        return int(v).to_bytes(4, "little", signed=True)
    if itype == "string":
        return str(v).encode("utf-8")
    return None


def _decode_bound(b: bytes, itype: str):
    if itype == "long":
        return int.from_bytes(b, "little", signed=True)
    if itype == "int":
        return int.from_bytes(b, "little", signed=True)
    if itype == "string":
        return b.decode("utf-8")
    return None


def _file_bounds(fp: str, col_fids: dict[str, tuple[int, str]]):
    """(lower_bounds, upper_bounds) kv-arrays from the parquet
    footer's row-group statistics — free metadata, no data read.
    Columns lacking stats in ANY row group get no bound (absence
    means 'cannot prune', never 'no rows match')."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(fp).metadata
    lows: dict[str, object] = {}
    highs: dict[str, object] = {}
    ok = {name: True for name in col_fids}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        present = set()
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in col_fids or name in present:
                continue
            present.add(name)
            st = col.statistics
            if st is None or not st.has_min_max:
                ok[name] = False
                continue
            lows[name] = (
                st.min if name not in lows else min(lows[name], st.min)
            )
            highs[name] = (
                st.max if name not in highs else max(highs[name], st.max)
            )
        for name in col_fids:
            if name not in present:
                ok[name] = False
    lower, upper = [], []
    for name in sorted(n for n in col_fids if ok[n] and n in lows):
        fid, itype = col_fids[name]
        lo = _encode_bound(lows[name], itype)
        hi = _encode_bound(highs[name], itype)
        if lo is not None and hi is not None:
            lower.append({"key": fid, "value": lo})
            upper.append({"key": fid, "value": hi})
    return lower or None, upper or None


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


class IcebergLiteIO:
    """Iceberg-v2-shaped table with snapshot commits, time travel and
    manifest-level identity-partition pruning. Same duck-typed
    contract as ParquetManifestIO/IcebergIO (append / read /
    committed_runs)."""

    def __init__(
        self,
        spark,
        table_path: str,
        partition_by: str | None = None,
    ) -> None:
        self.spark = spark
        self.path = table_path
        self.partition_by = partition_by
        self.meta_dir = os.path.join(table_path, "metadata")
        self.data_dir = os.path.join(table_path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------ metadata

    @property
    def _hint(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _current_version(self) -> int:
        if not os.path.exists(self._hint):
            return 0
        return int(open(self._hint).read().strip())

    def _metadata(self) -> dict | None:
        v = self._current_version()
        if v == 0:
            return None
        return json.load(
            open(os.path.join(self.meta_dir, f"v{v}.metadata.json"))
        )

    def history(self) -> list[dict]:
        md = self._metadata()
        return list(md["snapshot-log"]) if md else []

    def committed_runs(self) -> list[str]:
        md = self._metadata()
        if not md:
            return []
        return [
            s["summary"]["run-id"]
            for s in md["snapshots"]
            if "run-id" in s.get("summary", {})
        ]

    # -------------------------------------------------------- append

    def _schema_fields(self, df) -> tuple[list[dict], int]:
        ids = _IdAlloc()
        top = [
            (ids.next(), f.name, f.dataType) for f in df.schema.fields
        ]
        fields = [
            {
                "id": fid,
                "name": name,
                "required": False,
                "type": _iceberg_type(dt, ids),
            }
            for fid, name, dt in top
        ]
        return fields, ids.last

    @staticmethod
    def _strip_ids(t):
        """Type JSON with every id annotation removed — the shape two
        schemas must share for a column to count as 'the same'."""
        if isinstance(t, dict):
            return {
                k: IcebergLiteIO._strip_ids(v)
                for k, v in t.items()
                if k not in ("id", "element-id", "key-id", "value-id")
            }
        if isinstance(t, list):
            return [IcebergLiteIO._strip_ids(x) for x in t]
        return t

    def _evolve_schema(self, df, md):
        """Reconcile df's schema against the table's current schema
        (spec schema evolution, ADD-column subset): existing columns
        keep their FIELD IDS (what makes bounds pruning and manifest
        references stable across commits), new columns get fresh ids
        continuing from last-column-id and bump the schema id. Type
        changes and drops are refused loudly — silent coercion is how
        tables corrupt.

        Returns (fields, last_col_id, schema_id, schemas_list)."""
        if md is None:
            fields, last = self._schema_fields(df)
            return fields, last, 0, [
                {"type": "struct", "schema-id": 0, "fields": fields}
            ]
        cur = next(
            s
            for s in md["schemas"]
            if s["schema-id"] == md["current-schema-id"]
        )
        old = {f["name"]: f for f in cur["fields"]}
        df_fields = {f.name: f.dataType for f in df.schema.fields}
        missing = set(old) - set(df_fields)
        if missing:
            raise TypeError(
                f"schema evolution supports ADD only; df drops {sorted(missing)}"
            )
        probe = _IdAlloc()
        for name, f in old.items():
            if self._strip_ids(
                _iceberg_type(df_fields[name], probe)
            ) != self._strip_ids(f["type"]):
                raise TypeError(
                    f"column {name!r} changed type — not supported"
                )
        new_names = [
            f.name for f in df.schema.fields if f.name not in old
        ]
        if not new_names:
            return (
                cur["fields"],
                md["last-column-id"],
                cur["schema-id"],
                md["schemas"],
            )
        ids = _IdAlloc()
        ids.last = md["last-column-id"]
        added = []
        for name in new_names:
            t = _iceberg_type(df_fields[name], ids)
            if not isinstance(t, str):
                raise TypeError(
                    "evolution adds primitive columns only (old files "
                    "are null-filled at read; nested null synthesis "
                    "is not implemented)"
                )
            fid = ids.next()
            added.append(
                {
                    "id": fid,
                    "name": name,
                    "required": False,
                    "type": t,
                }
            )
        fields = cur["fields"] + added
        schema_id = cur["schema-id"] + 1
        return (
            fields,
            ids.last,
            schema_id,
            md["schemas"]
            + [
                {
                    "type": "struct",
                    "schema-id": schema_id,
                    "fields": fields,
                }
            ],
        )

    def append(self, df, run_id: str | None = None) -> int:
        """Commit one snapshot adding `df`'s rows; returns the
        snapshot id. Deterministic given (table state, run_id)."""
        return self._commit(df, run_id, "append")

    def compact(self, run_id: str | None = None) -> int:
        """Rewrite the CURRENT snapshot into one compact file set per
        partition and commit it as a REPLACE snapshot: the new
        manifest list carries ONLY the rewritten manifest (the spec's
        rewrite operation — rewritten files simply leave the list),
        so readers see the same rows from far fewer files while every
        PRIOR snapshot stays time-travelable through its own list.
        The small-files problem is the first operational wall of a
        10^12-doc streaming/appending table; this is the maintenance
        path, same atomic hint-swap commit as append."""
        cur = self.read()
        if cur is None:
            raise ValueError("nothing to compact: empty table")
        n_part = max(1, len(self._data_files()) // 64)
        return self._commit(
            cur.coalesce(n_part), run_id, "replace"
        )

    def delete(
        self, col: str, values: list, run_id: str | None = None
    ) -> int:
        """Copy-on-write delete (the right-to-be-forgotten path a
        training-data table of record must have): rows whose `col` is
        in `values` vanish from the new snapshot. Only files whose
        recorded column BOUNDS overlap some requested value are
        rewritten — everything else is carried into the new manifest
        by reference as EXISTING entries — so a bounded GDPR batch
        rewrites a bounded file set, not the table. Commits an
        'overwrite' snapshot (atomic hint swap; priors stay
        time-travelable, so `expire_snapshots` is what makes the
        purge physical)."""
        from pyspark.sql import functions as F

        md = self._metadata()
        fid, itype = self._col_fid_type(col, md)
        files = self._data_files()
        affected, kept = [], []
        for d in files:
            hit = any(
                not self._bounds_disjoint(
                    d, {fid: (v, v, itype)}
                )
                for v in values
            )
            (affected if hit else kept).append(d)
        out = self._assemble(affected, md)
        if out is None:  # nothing overlaps: still commit the intent
            out = self._empty_df(md)
        # NULL-safe keep predicate: isin() is NULL for NULL keys, so
        # a bare ~isin would silently drop unrelated NULL-keyed rows
        # from rewritten files (while carried files kept theirs)
        rewritten = out.filter(
            F.col(col).isNull() | ~F.col(col).isin(values)
        )
        return self._commit(rewritten, run_id, "overwrite", carry=kept)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Vacuum: retain only the newest `keep_last` snapshots in a
        new metadata version (atomic hint swap — expiry is itself a
        commit), then delete data/manifest files no retained snapshot
        references. Returns the deleted paths. Without this, compact
        only ADDS bytes; with it, the table's storage is bounded by
        the live snapshot window — the standard Iceberg maintenance
        pair."""
        md = self._metadata()
        if not md:
            return []
        keep = md["snapshots"][-keep_last:]
        keep_ids = {s["snapshot-id"] for s in keep}
        new_md = dict(md)
        new_md["snapshots"] = keep
        new_md["snapshot-log"] = [
            e
            for e in md["snapshot-log"]
            if e["snapshot-id"] in keep_ids
        ]
        v = self._current_version() + 1
        with open(
            os.path.join(self.meta_dir, f"v{v}.metadata.json"), "w"
        ) as f:
            json.dump(new_md, f, indent=1)
        tmp = self._hint + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._hint)

        # reachability sweep: everything a retained snapshot's
        # manifest tree names survives; the rest is garbage
        live_data: set[str] = set()
        live_meta: set[str] = set()
        for s in keep:
            live_meta.add(s["manifest-list"])
            for mf in read_container(
                open(s["manifest-list"], "rb").read()
            )[1]:
                live_meta.add(mf["manifest_path"])
                for e in read_container(
                    open(mf["manifest_path"], "rb").read()
                )[1]:
                    live_data.add(e["data_file"]["file_path"])
        deleted: list[str] = []
        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                fp = os.path.join(root, fn)
                if fn.endswith(".parquet") and fp not in live_data:
                    os.remove(fp)
                    deleted.append(fp)
        for fn in os.listdir(self.meta_dir):
            fp = os.path.join(self.meta_dir, fn)
            if fn.endswith(".avro") and fp not in live_meta:
                os.remove(fp)
                deleted.append(fp)
        # drop now-empty run/partition dirs (bottom-up)
        for root, dirs, files in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not dirs and not files:
                os.rmdir(root)
        return deleted

    def _commit(
        self,
        df,
        run_id: str | None,
        operation: str,
        carry: list[dict] | None = None,
    ) -> int:
        """Write df's rows as new data files and commit one snapshot.
        `carry`: data_file dicts (from a prior snapshot) re-listed
        as EXISTING entries in the new manifest — the copy-on-write
        delete path keeps untouched files this way."""
        run_id = run_id or uuid.uuid4().hex[:12]
        if run_id in self.committed_runs():
            # a reused run_id would rmtree data/<run_id> below and
            # corrupt the committed snapshot that references those
            # files (round-5 review finding) — refuse loudly; only a
            # CRASHED (uncommitted) attempt may be replayed
            raise ValueError(
                f"run_id {run_id!r} already committed — pick a new "
                "run_id (replaying a committed run would destroy the "
                "files its snapshot references)"
            )
        if self.partition_by is not None:
            ptype = repr(df.schema[self.partition_by].dataType)
            if ptype != "StringType()":
                raise TypeError(
                    "identity partition column must be string (value "
                    f"round-trips through the dir layout); got {ptype}"
                )
        md = self._metadata()
        seq = (md["last-sequence-number"] + 1) if md else 1
        snap_id = seq  # deterministic, strictly increasing
        schema_fields, last_col_id, schema_id, schemas_list = (
            self._evolve_schema(df, md)
        )

        # 1. data files (parquet via Spark; staging + atomic rename)
        staging = os.path.join(self.path, f"_staging_{run_id}")
        final = os.path.join(self.data_dir, run_id)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(staging)
        if os.path.exists(final):  # replay of a crashed commit
            import shutil

            shutil.rmtree(final)
        os.replace(staging, final)

        # 2. manifest: one entry per parquet file, with identity
        #    partition values recovered from the directory layout and
        #    per-file column bounds lifted from the parquet footers
        import pyarrow.parquet as pq

        col_fids = {
            f["name"]: (f["id"], f["type"])
            for f in schema_fields
            if f["type"] in ("long", "int", "string")
        }
        entries = []
        n_rows = 0
        for root, _dirs, files in sorted(os.walk(final)):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(root, fn)
                part_val = None
                if self.partition_by:
                    from urllib.parse import unquote

                    rel = os.path.relpath(root, final)
                    for seg in rel.split(os.sep):
                        k, _, v = seg.partition("=")
                        if k == self.partition_by:
                            # Spark escapes special chars in the dir
                            # name (%3D etc.) and spells NULL as
                            # __HIVE_DEFAULT_PARTITION__ — undo both
                            # so the manifest stores the true value
                            part_val = (
                                None
                                if v == "__HIVE_DEFAULT_PARTITION__"
                                else unquote(v)
                            )
                nr = pq.ParquetFile(fp).metadata.num_rows
                n_rows += nr
                lower, upper = _file_bounds(fp, col_fids)
                entries.append(
                    {
                        "status": 1,  # ADDED
                        "snapshot_id": snap_id,
                        "sequence_number": seq,
                        "file_sequence_number": seq,
                        "data_file": {
                            "content": 0,  # DATA
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": (
                                {self.partition_by: part_val}
                                if self.partition_by
                                else {}
                            ),
                            "record_count": nr,
                            "file_size_in_bytes": os.path.getsize(fp),
                            "lower_bounds": lower,
                            "upper_bounds": upper,
                        },
                    }
                )
        n_added = len(entries)
        carried_rows = 0
        for d in carry or []:
            carried_rows += d["record_count"]
            entries.append(
                {
                    "status": 0,  # EXISTING: untouched by this commit
                    "snapshot_id": snap_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": d,
                }
            )
        part_fields = (
            [(self.partition_by, "string")] if self.partition_by else []
        )
        entry_schema = _manifest_entry_schema(
            _partition_schema(part_fields)
        )
        manifest_path = os.path.join(
            self.meta_dir, f"manifest-{snap_id}-{run_id}.avro"
        )
        manifest_bytes = write_container(
            entry_schema,
            entries,
            extra_meta={
                "schema": json.dumps(
                    {
                        "type": "struct",
                        "schema-id": schema_id,
                        "fields": schema_fields,
                    }
                ).encode(),
                "partition-spec-id": b"0",
                "content": b"data",
                "format-version": b"2",
            },
        )
        with open(manifest_path, "wb") as f:
            f.write(manifest_bytes)

        # 3. manifest LIST: for append, prior manifests carried by
        #    reference (fast-append) plus this snapshot's one new
        #    manifest; for replace (compaction), ONLY the new one —
        #    rewritten files leave the list
        prior: list[dict] = []
        if operation == "append" and md and md.get("current-snapshot-id"):
            cur = next(
                s
                for s in md["snapshots"]
                if s["snapshot-id"] == md["current-snapshot-id"]
            )
            prior = read_container(
                open(cur["manifest-list"], "rb").read()
            )[1]
        new_entry = {
            "manifest_path": manifest_path,
            "manifest_length": len(manifest_bytes),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": n_added,
            "existing_files_count": len(entries) - n_added,
            "deleted_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": carried_rows,
            "deleted_rows_count": 0,
        }
        list_path = os.path.join(
            self.meta_dir, f"snap-{snap_id}-{run_id}.avro"
        )
        with open(list_path, "wb") as f:
            f.write(
                write_container(
                    _MANIFEST_FILE_SCHEMA, prior + [new_entry]
                )
            )

        # 4. new table metadata + atomic version-hint swap
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": seq,  # logical clock: determinism first
            "manifest-list": list_path,
            "summary": {
                "operation": operation,
                "run-id": run_id,
                "added-data-files": str(len(entries)),
                "added-records": str(n_rows),
            },
        }
        new_md = {
            "format-version": 2,
            "table-uuid": (md or {}).get(
                "table-uuid", str(uuid.uuid4())
            ),
            "location": self.path,
            "last-sequence-number": seq,
            "last-updated-ms": seq,
            "last-column-id": last_col_id,
            "schemas": schemas_list,
            "current-schema-id": schema_id,
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": (
                        [
                            {
                                "name": self.partition_by,
                                "transform": "identity",
                                "source-id": next(
                                    f["id"]
                                    for f in schema_fields
                                    if f["name"] == self.partition_by
                                ),
                                "field-id": 1000,
                            }
                        ]
                        if self.partition_by
                        else []
                    ),
                }
            ],
            "default-spec-id": 0,
            "last-partition-id": 1000 if self.partition_by else 999,
            "properties": {},
            "current-snapshot-id": snap_id,
            "snapshots": ((md or {}).get("snapshots", []) + [snapshot]),
            "snapshot-log": (
                (md or {}).get("snapshot-log", [])
                + [{"timestamp-ms": seq, "snapshot-id": snap_id}]
            ),
            "metadata-log": [],
        }
        v = self._current_version() + 1
        md_path = os.path.join(self.meta_dir, f"v{v}.metadata.json")
        with open(md_path, "w") as f:
            json.dump(new_md, f, indent=1)
        tmp = self._hint + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._hint)  # THE commit point
        return snap_id

    # ---------------------------------------------------------- read

    def _current_fields(self, md) -> list[dict]:
        return next(
            s
            for s in md["schemas"]
            if s["schema-id"] == md["current-schema-id"]
        )["fields"]

    def _col_fid_type(self, name: str, md=None) -> tuple[int, str]:
        md = md if md is not None else self._metadata()
        f = next(
            f for f in self._current_fields(md) if f["name"] == name
        )
        if not isinstance(f["type"], str):
            raise TypeError("bounds pruning needs a primitive column")
        return f["id"], f["type"]

    def _data_files(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, str] | None = None,
        column_range: dict[str, tuple] | None = None,
    ) -> list[dict]:
        md = self._metadata()
        if not md or not md.get("current-snapshot-id"):
            return []
        sid = (
            md["current-snapshot-id"]
            if snapshot_id is None
            else snapshot_id
        )
        snap = next(
            (s for s in md["snapshots"] if s["snapshot-id"] == sid), None
        )
        if snap is None:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        ranges = {}
        for name, (lo, hi) in (column_range or {}).items():
            fid, itype = self._col_fid_type(name)
            ranges[fid] = (lo, hi, itype)
        files: list[dict] = []
        for mf in read_container(open(snap["manifest-list"], "rb").read())[1]:
            for entry in read_container(
                open(mf["manifest_path"], "rb").read()
            )[1]:
                if entry["status"] == 2:  # DELETED
                    continue
                d = entry["data_file"]
                if partition_filter:
                    part = d["partition"] or {}
                    if any(
                        part.get(k) != v
                        for k, v in partition_filter.items()
                    ):
                        continue  # manifest-level prune: file skipped
                if ranges and self._bounds_disjoint(d, ranges):
                    continue  # file skipped on column bounds
                files.append(d)
        return files

    @staticmethod
    def _bounds_disjoint(d: dict, ranges: dict) -> bool:
        """True iff the file's recorded [lower, upper] for some
        queried column cannot intersect its range. Files without a
        recorded bound for a column are never pruned on it."""
        lows = {
            kv["key"]: kv["value"] for kv in (d.get("lower_bounds") or [])
        }
        highs = {
            kv["key"]: kv["value"] for kv in (d.get("upper_bounds") or [])
        }
        for fid, (lo, hi, itype) in ranges.items():
            if fid not in lows or fid not in highs:
                continue
            f_lo = _decode_bound(lows[fid], itype)
            f_hi = _decode_bound(highs[fid], itype)
            if (hi is not None and f_lo > hi) or (
                lo is not None and f_hi < lo
            ):
                return True
        return False

    _ICEBERG_TO_DDL = {
        "long": "bigint",
        "int": "int",
        "string": "string",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
        "binary": "binary",
        "date": "date",
        "timestamptz": "timestamp",
    }

    def _conform(self, df, md):
        """Project df onto the CURRENT schema: columns a file set
        predates (schema evolution adds) come back as typed nulls —
        the spec's read-side default for added fields."""
        from pyspark.sql import functions as F

        for f in self._current_fields(md):
            if f["name"] not in df.columns:
                df = df.withColumn(
                    f["name"],
                    F.lit(None).cast(self._ICEBERG_TO_DDL[f["type"]]),
                )
        return df.select(
            *[f["name"] for f in self._current_fields(md)]
        )

    def _spark_ddl(self, t) -> str:
        if isinstance(t, str):
            return self._ICEBERG_TO_DDL[t]
        if t["type"] == "struct":
            inner = ",".join(
                f'`{f["name"]}`:{self._spark_ddl(f["type"])}'
                for f in t["fields"]
            )
            return f"struct<{inner}>"
        if t["type"] == "list":
            return f'array<{self._spark_ddl(t["element"])}>'
        if t["type"] == "map":
            return (
                f'map<{self._spark_ddl(t["key"])},'
                f'{self._spark_ddl(t["value"])}>'
            )
        raise TypeError(f"unsupported schema type {t!r}")

    def _empty_df(self, md):
        """Empty DataFrame in the CURRENT schema — what a read of a
        legitimately empty snapshot returns (a full delete leaves a
        zero-file snapshot; crashing on it breaks the duck contract
        and every resume path)."""
        ddl = ", ".join(
            f'`{f["name"]}` {self._spark_ddl(f["type"])}'
            for f in self._current_fields(md)
        )
        return self.spark.createDataFrame([], ddl)

    def _assemble(self, files: list[dict], md):
        """ONE shared scan assembly for read/read_run/delete: group
        files by identity-partition value, re-attach the value as a
        typed literal per group (the manifest is the source of truth,
        not directory discovery), conform every group to the current
        schema, union. Returns None for an empty file list."""
        from pyspark.sql import functions as F

        if not files:
            return None
        if not self.partition_by:
            return self._conform(
                self.spark.read.option("mergeSchema", "true").parquet(
                    *[d["file_path"] for d in files]
                ),
                md,
            )
        groups: dict[str | None, list[str]] = {}
        for d in files:
            v = (d["partition"] or {}).get(self.partition_by)
            groups.setdefault(v, []).append(d["file_path"])
        out = None
        for v, paths in sorted(
            groups.items(), key=lambda kv: (kv[0] is None, str(kv[0]))
        ):
            part = self._conform(
                self.spark.read.option("mergeSchema", "true")
                .parquet(*paths)
                .withColumn(
                    self.partition_by, F.lit(v).cast("string")
                ),
                md,
            )
            out = part if out is None else out.unionByName(part)
        return out

    def read(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, str] | None = None,
        column_range: dict[str, tuple] | None = None,
    ):
        """DataFrame over the snapshot's (possibly pruned) files.

        Identity-partition columns are dropped from the parquet data
        (the Iceberg/Hive layout); they are re-attached here as one
        LITERAL per partition-value group — the manifest, not
        directory discovery, is the source of truth (exactly how the
        real runtime plans a scan). Group count is bounded by the
        partition cardinality (a catalog-sized dimension), so the
        union is metadata-sized, and the per-group literal folds into
        each file-scan's plan with zero runtime cost."""
        from pyspark.sql import functions as F

        md = self._metadata()
        if not md or not md.get("current-snapshot-id"):
            return None  # no committed snapshot (duck contract)
        files = self._data_files(snapshot_id, partition_filter, column_range)
        out = self._assemble(files, md)
        if out is None:
            # a legitimately empty snapshot (e.g. after a full
            # delete) or a fully pruned filter: an EMPTY frame in the
            # current schema, never an exception — resume paths and
            # the duck contract depend on reads of empty tables
            return self._empty_df(md)
        for name, (lo, hi) in (column_range or {}).items():
            # bounds prune FILES; the residual range predicate makes
            # the row semantics exact (and pushes into the scan)
            if lo is not None:
                out = out.filter(F.col(name) >= lo)
            if hi is not None:
                out = out.filter(F.col(name) <= hi)
        return out

    def read_run(self, run_id: str):
        """DataFrame over ONLY the files a given run's snapshot
        added (checkpoint lineage reads this back — file-count-sized
        manifest walk, one manifest per fast-append commit)."""
        md = self._metadata()
        snap = next(
            s
            for s in (md or {}).get("snapshots", [])
            if s["summary"].get("run-id") == run_id
        )
        sid = snap["snapshot-id"]
        files: list[dict] = []
        for mf in read_container(
            open(snap["manifest-list"], "rb").read()
        )[1]:
            if mf["added_snapshot_id"] != sid:
                continue  # fast-append: priors carried by reference
            files.extend(
                e["data_file"]
                for e in read_container(
                    open(mf["manifest_path"], "rb").read()
                )[1]
                if e["status"] == 1
            )
        out = self._assemble(files, md)
        return out if out is not None else self._empty_df(md)

    def _live_data_paths(self) -> set[str]:
        """Every data-file path some RETAINED snapshot's manifest
        tree references. THE liveness authority for cleanup — run-id
        lists are not: fast-append and copy-on-write carry older
        runs' FILES live by reference even after `expire_snapshots`
        drops those runs' own snapshots (round-5 review finding)."""
        md = self._metadata()
        live: set[str] = set()
        for s in (md or {}).get("snapshots", []):
            for mf in read_container(
                open(s["manifest-list"], "rb").read()
            )[1]:
                for e in read_container(
                    open(mf["manifest_path"], "rb").read()
                )[1]:
                    live.add(e["data_file"]["file_path"])
        return live

    def drop_uncommitted(self) -> None:
        """Crash cleanup (duck contract): staging dirs are always
        dead; a data/<run> dir is an orphan ONLY if no retained
        snapshot's manifest tree references any file inside it —
        reachability, not run-id membership (a run dropped by expiry
        can still have files carried live by a later fast-append or
        copy-on-write snapshot)."""
        import shutil

        for name in os.listdir(self.path):
            if name.startswith("_staging_"):
                shutil.rmtree(
                    os.path.join(self.path, name), ignore_errors=True
                )
        live = self._live_data_paths()
        live_runs = {
            os.path.relpath(p, self.data_dir).split(os.sep)[0]
            for p in live
            if p.startswith(self.data_dir + os.sep)
        }
        for name in os.listdir(self.data_dir):
            if name not in live_runs:
                shutil.rmtree(
                    os.path.join(self.data_dir, name), ignore_errors=True
                )
