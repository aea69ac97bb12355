"""Iceberg-style snapshot catalog over the Parquet facade.

The engine's north rule targets Iceberg tables; this container carries no
Iceberg jars (SURVEY.md §7), so :mod:`catalog` ships chunk-level committed
writes and this module adds the table-level Iceberg semantics on the same
plain-Parquet substrate — the four capabilities the round-4 verdict named
as the facade's gap:

- **snapshots**: every ``append``/``overwrite``/``compact`` produces an
  immutable snapshot (manifest = a Parquet file listing data files with
  row counts and per-column min/max stats); a version-numbered metadata
  JSON points at the current one and keeps the full snapshot log.
- **optimistic-concurrency commits**: a commit is the ``O_CREAT|O_EXCL``
  creation of the next ``v%08d.metadata.json`` — the same
  compare-and-swap Iceberg's HadoopTableOperations does with its
  ``version-hint`` rename. A losing writer re-reads and retries, so two
  concurrent appenders both land (serialized), never clobber.
- **time travel**: ``read(spark, snapshot_id=...)`` /
  ``read(spark, as_of_ms=...)`` — the ``VERSION AS OF`` / ``TIMESTAMP AS
  OF`` analogue, reading with the SCHEMA THAT SNAPSHOT HAD.
- **id-based schema evolution**: columns carry permanent field ids; add /
  drop / rename are metadata-only commits. Old data files are read with the
  schema they were WRITTEN with and projected to the requested schema by
  field id, so a rename never rewrites data and never resurrects a
  dropped-then-readded name (Iceberg spec §Schema Evolution).

Scan planning (:meth:`SnapshotTable.plan_files`) prunes data files by the
manifest min/max stats BEFORE Spark ever lists them — Iceberg's
metadata-level file pruning. Maintenance: :meth:`compact` rewrites the
live file set into fewer, larger files as a ``rewrite`` snapshot (no
logical change), :meth:`expire_snapshots` drops history and deletes files
unreachable from the retained snapshots.

100-TB posture: all metadata operations are driver-side reads of footer/
manifest Parquet (milliseconds, no Spark job), mirroring Iceberg's design
where scan planning touches manifests, not data. Manifests are themselves
Parquet, so at real scale they can be unioned and read distributed
(``spark.read.parquet(base/"manifests")``) — the same seam Iceberg's
metadata tables expose. Data reads group files by write-schema: one
``spark.read.schema(...).parquet(*files)`` per schema generation, then a
``unionByName`` — a handful of generations regardless of file count.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META_FMT = "v{:08d}.metadata.json"

#: parquet logical types the stats collector keeps min/max for (stats on
#: binary/nested columns cost manifest width and never prune in practice)
_STATS_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double",
                "string", "date", "timestamp", "boolean")


class CommitConflict(RuntimeError):
    """Another writer committed the version we were about to write."""


def _stat_jsonable(v):
    """Normalize a footer-stat (or predicate-bound) value for JSON
    manifests: pyarrow returns ``datetime.date``/``datetime.datetime``
    for date/timestamp columns, which ``json.dumps`` rejects. Fixed-width
    ISO strings keep lexicographic order == chronological order, so the
    string comparisons in :meth:`SnapshotTable.plan_files` stay exact
    (the fixed ``.%f`` width matters: a bare ``isoformat()`` drops
    ``.000000`` and breaks prefix comparisons at equal instants)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _keep_row(
    r: dict, name_to_id: dict, type_of_id: dict, specs: dict, predicates: dict,
) -> bool:
    """Per-file pruning decision of :meth:`SnapshotTable.plan_files`:
    False only when the manifest row's min/max stats or its hidden-
    partition tuple prove no row can match. ``predicates`` bounds must
    already be normalized via :func:`_stat_jsonable`; ``specs`` maps
    spec_id → partition-spec dict."""
    lo = json.loads(r["lower_bounds"])
    hi = json.loads(r["upper_bounds"])
    for name, (p_lo, p_hi) in predicates.items():
        fid = name_to_id.get(name, -1)
        sfid = str(fid)
        if sfid in lo:
            if p_lo is not None and hi[sfid] < p_lo:
                return False
            if p_hi is not None and lo[sfid] > p_hi:
                return False
        if not _partition_may_match(
            r, specs, fid, type_of_id.get(fid), p_lo, p_hi
        ):
            return False
    return True


def _partition_may_match(
    row: dict, specs: dict, fid: int, src_type: str | None, p_lo, p_hi,
) -> bool:
    """Partition-spec evaluator: can any row of this file satisfy the
    predicate, judged from the file's hidden-partition tuple alone?
    Conservative: unknown spec / null tuple value / undecidable
    transform → True (never prunes a matching file)."""
    part = json.loads(row.get("partition") or "{}")
    if not part or src_type is None:
        return True
    spec = specs.get(int(row.get("spec_id") or 0))
    if spec is None:
        return True
    is_str = src_type in ("string", "varchar")
    for pf in spec["fields"]:
        if pf["source_id"] != fid:
            continue
        raw = part.get(pf["name"])
        if raw is None:
            continue  # null partition value — cannot prune
        t = pf["transform"]
        # Every branch is wrapped conservative: a directory-string
        # partition value the driver can't parse for this source type
        # (double/date identity, exotic truncate) KEEPS the file —
        # pruning may only ever skip provably-impossible files.
        try:
            if t == "identity":
                v = raw if is_str else int(raw)
                if p_lo is not None and v < p_lo:
                    return False
                if p_hi is not None and v > p_hi:
                    return False
            elif t == "truncate":
                w = int(pf["param"])
                if is_str:
                    # every value in the file starts with `raw` (w
                    # chars): prefix > hi ⇒ all values > hi; prefix <
                    # lo's prefix ⇒ all values < lo
                    if p_hi is not None and raw > str(p_hi):
                        return False
                    if p_lo is not None and raw < str(p_lo)[:w]:
                        return False
                else:
                    b = int(raw)
                    if p_hi is not None and b > p_hi:
                        return False
                    if p_lo is not None and b + w - 1 < p_lo:
                        return False
            elif t == "bucket" and p_lo is not None and p_lo == p_hi:
                # point predicate: the row's bucket is fully determined
                if int(raw) != _transform_value(pf, src_type, p_lo):
                    return False
        except (ValueError, TypeError):
            continue
    return True


# -- Spark-free DDL parsing ---------------------------------------------------
# PySpark 4.x routes StructType.fromDDL through the active SparkContext, so
# metadata-only operations (create / add_column) would silently grow a JVM
# dependency — breaking the Iceberg posture that catalog ops are driver-side
# metadata edits. This tiny recursive-descent parser accepts the same DDL the
# engine uses and emits Spark's `simpleString` normalization byte-for-byte
# (pinned against fromDDL in tests/test_snapshots.py).

_DDL_ALIASES = {
    "boolean": "boolean", "byte": "tinyint", "tinyint": "tinyint",
    "short": "smallint", "smallint": "smallint", "int": "int",
    "integer": "int", "long": "bigint", "bigint": "bigint",
    "float": "float", "real": "float", "double": "double",
    "string": "string", "binary": "binary", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp_ntz",
}


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at bracket depth 0 (ignores <>, () nesting)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _parse_type_ddl(ddl: str) -> str:
    """Parse one type DDL → Spark ``simpleString``; raises ValueError."""
    s = ddl.strip()
    low = s.lower()
    if low in _DDL_ALIASES:
        return _DDL_ALIASES[low]
    if low == "decimal":
        return "decimal(10,0)"
    if low.startswith("decimal(") and low.endswith(")"):
        args = [a.strip() for a in low[8:-1].split(",")]
        if not (1 <= len(args) <= 2) or not all(a.isdigit() for a in args):
            raise ValueError(f"bad decimal type: {ddl!r}")
        p = int(args[0])
        sc = int(args[1]) if len(args) == 2 else 0
        if not (0 < p <= 38 and 0 <= sc <= p):
            raise ValueError(f"bad decimal precision/scale: {ddl!r}")
        return f"decimal({p},{sc})"
    if low.startswith("array<") and s.endswith(">"):
        return f"array<{_parse_type_ddl(s[6:-1])}>"
    if low.startswith("map<") and s.endswith(">"):
        kv = _split_top(s[4:-1])
        if len(kv) != 2:
            raise ValueError(f"map needs exactly key,value: {ddl!r}")
        return f"map<{_parse_type_ddl(kv[0])},{_parse_type_ddl(kv[1])}>"
    if low.startswith("struct<") and s.endswith(">"):
        inner = s[7:-1].strip()
        fields = _parse_fields_ddl(inner) if inner else []
        return "struct<" + ",".join(f"{n}:{t}" for n, t in fields) + ">"
    raise ValueError(f"unsupported type DDL: {ddl!r}")


def _parse_fields_ddl(ddl: str) -> list[tuple[str, str]]:
    """Parse ``name type, name type`` (or ``name: type``) → [(name,
    simpleString)]. Backquoted names allowed; no backquotes in output
    (matches fromDDL's field naming)."""
    out = []
    for part in _split_top(ddl):
        p = part.strip()
        if not p:
            raise ValueError(f"empty field in DDL: {ddl!r}")
        if p.startswith("`"):
            end = p.find("`", 1)
            if end < 0:
                raise ValueError(f"unterminated backquote: {part!r}")
            name, rest = p[1:end], p[end + 1:]
        else:
            m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", p)
            if not m:
                raise ValueError(f"bad field name in: {part!r}")
            name, rest = m.group(0), p[m.end():]
        rest = rest.lstrip()
        if rest.startswith(":"):
            rest = rest[1:]
        if not rest.strip():
            raise ValueError(f"field {name!r} missing a type")
        out.append((name, _parse_type_ddl(rest)))
    return out


def _ddl(schema: dict) -> str:
    """Backquoted ``name type, ...`` DDL of a stored schema."""
    return ", ".join(f"`{f['name']}` {f['type']}" for f in schema["fields"])


_TRANSFORMS = ("identity", "bucket", "truncate")


def _spec_fields(partition_spec: list[tuple], schema_fields: list[dict]) -> list[dict]:
    """Normalize user transforms to stored spec fields keyed by field id."""
    by_name = {f["name"]: f for f in schema_fields}
    out = []
    for item in partition_spec:
        transform, col = item[0], item[1]
        param = item[2] if len(item) > 2 else None
        if transform not in _TRANSFORMS:
            raise ValueError(f"unknown transform {transform!r}")
        if transform in ("bucket", "truncate") and not param:
            raise ValueError(f"{transform} needs a positive int param")
        if col not in by_name:
            raise KeyError(f"partition source column {col!r} not in schema")
        src = by_name[col]
        suffix = {"identity": "", "bucket": "_bucket", "truncate": "_trunc"}
        out.append({
            "source_id": src["id"],
            "transform": transform,
            "param": param,
            "name": f"{col}{suffix[transform]}",
        })
    return out


def _transform_col(field: dict, src_name: str, src_type: str):
    """The derived partition Column for one spec field.

    bucket uses md5-of-string-cast (the engine's cross-oracle hashing
    discipline, functions/texthash.py) rather than Iceberg's murmur3:
    the same bytes hash identically in Spark, on the driver
    (:func:`_transform_value`), and in DuckDB — a write-path-only cost."""
    c = F.col(src_name)
    if field["transform"] == "identity":
        return c
    if field["transform"] == "bucket":
        h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
        return F.pmod(h.cast("long"), F.lit(int(field["param"])))
    w = int(field["param"])
    if src_type in ("string", "varchar"):
        return F.substring(c, 1, w)
    return c - F.pmod(c, F.lit(w))  # int truncate: floor to W-sized bin


def _transform_value(field: dict, src_type: str, value):
    """Driver-side twin of :func:`_transform_col` (used by pruning)."""
    if field["transform"] == "identity":
        return value
    if field["transform"] == "bucket":
        import hashlib

        digest = hashlib.md5(str(value).encode()).hexdigest()[:15]
        return int(digest, 16) % int(field["param"])
    w = int(field["param"])
    if src_type in ("string", "varchar"):
        return str(value)[:w]
    return int(value) - (int(value) % w)


def _assign(df: DataFrame, hit, assignments: dict[str, str], types: dict):
    """SQL UPDATE ``SET``: ``assignments`` (column → SQL expression) on
    the rows where ``hit``, in ONE select — every expression evaluated
    against the PRE-update row (sequential withColumn would leak earlier
    assignments into later expressions)."""
    new_val = {
        col: F.when(hit, F.expr(expr).cast(types[col])).otherwise(F.col(col))
        for col, expr in assignments.items()
    }
    return df.select(*[new_val.get(c, F.col(c)).alias(c) for c in df.columns])


class SnapshotTable:
    """One snapshot-versioned table rooted at ``base``.

    Layout::

        base/metadata/v00000001.metadata.json   (CAS-committed versions)
        base/manifests/snap-<id>.parquet        (file list + stats)
        base/data/<commit-uuid>/part-*.parquet  (immutable data files)
    """

    def __init__(self, base: str):
        self.base = base.rstrip("/")
        self.meta_dir = os.path.join(self.base, "metadata")
        self.manifest_dir = os.path.join(self.base, "manifests")
        self.data_dir = os.path.join(self.base, "data")

    # -- metadata versions ---------------------------------------------------

    @classmethod
    def create(
        cls, base: str, schema_ddl: str,
        partition_spec: list[tuple] | None = None,
    ) -> "SnapshotTable":
        """Create an empty table with the given DDL schema (``name type,
        ...``). Fails if a table already exists at ``base``.

        ``partition_spec`` is a list of hidden-partitioning transforms
        (Iceberg partition-spec analogue), each ``(transform, column)``
        or ``(transform, column, param)``:

        - ``("identity", col)`` — partition by the raw value
        - ``("bucket", col, N)`` — ``pmod(md5(cast(col as string)), N)``
          (the engine's cross-oracle hashing discipline — see
          :func:`_transform_col`; the stand-in for Iceberg murmur3)
        - ``("truncate", col, W)`` — ints to ``W``-sized bins (floor),
          strings to their first ``W`` chars

        Partitioning is HIDDEN: transforms derive write-time layout and
        per-file partition tuples in the manifest; source columns stay in
        the data files and readers never see a partition column.
        """
        t = cls(base)
        for d in (t.meta_dir, t.manifest_dir, t.data_dir):
            os.makedirs(d, exist_ok=True)
        if t._versions():
            raise FileExistsError(f"table already exists at {base}")
        fields = [
            {"id": i + 1, "name": name, "type": type_ss}
            for i, (name, type_ss) in enumerate(_parse_fields_ddl(schema_ddl))
        ]
        meta = {
            "format_version": 1,
            "table_uuid": uuid.uuid4().hex,
            "version": 1,
            "last_field_id": len(fields),
            "current_schema_id": 0,
            "schemas": [{"schema_id": 0, "fields": fields}],
            "current_snapshot_id": None,
            "snapshots": [],
            "partition_specs": [
                {"spec_id": 0,
                 "fields": _spec_fields(partition_spec or [], fields)}
            ],
            "default_spec_id": 0,
        }
        t._cas_write(meta)
        return t

    def set_partition_spec(self, partition_spec: list[tuple]) -> dict:
        """Spec evolution: future writes use the new spec; files written
        under older specs keep their recorded spec_id and still prune."""
        def mut(meta):
            fields = self.schema(meta=meta)["fields"]
            spec = {
                "spec_id": len(meta.get("partition_specs", [])),
                "fields": _spec_fields(partition_spec, fields),
            }
            meta.setdefault("partition_specs", []).append(spec)
            meta["default_spec_id"] = spec["spec_id"]
            return meta
        return self._commit(mut)

    def partition_spec(self, spec_id: int | None = None, meta: dict | None = None) -> dict:
        meta = meta or self.metadata()
        specs = meta.get("partition_specs") or [{"spec_id": 0, "fields": []}]
        sid = meta.get("default_spec_id", 0) if spec_id is None else spec_id
        for s in specs:
            if s["spec_id"] == sid:
                return s
        raise KeyError(f"no partition spec {sid}")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        return sorted(
            int(n[1:9])
            for n in os.listdir(self.meta_dir)
            if n.endswith(".metadata.json")
        )

    def metadata(self, version: int | None = None) -> dict:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no table at {self.base}")
        v = version if version is not None else vs[-1]
        with open(os.path.join(self.meta_dir, _META_FMT.format(v))) as f:
            return json.load(f)

    def _cas_write(self, meta: dict) -> None:
        """Commit = O_EXCL create of the next version file (POSIX CAS)."""
        path = os.path.join(self.meta_dir, _META_FMT.format(meta["version"]))
        payload = json.dumps(meta, indent=1).encode()
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise CommitConflict(
                f"version {meta['version']} already committed at {self.base}"
            ) from None
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())

    def _commit(self, mutate, retries: int = 10) -> dict:
        """Optimistic-concurrency loop: re-read, re-apply, CAS."""
        for _ in range(retries):
            meta = self.metadata()
            new = mutate(json.loads(json.dumps(meta)))  # deep copy
            new["version"] = meta["version"] + 1
            try:
                self._cas_write(new)
                return new
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {retries} retries at {self.base}")

    # -- schema --------------------------------------------------------------

    def schema(self, schema_id: int | None = None, meta: dict | None = None) -> dict:
        meta = meta or self.metadata()
        sid = meta["current_schema_id"] if schema_id is None else schema_id
        for s in meta["schemas"]:
            if s["schema_id"] == sid:
                return s
        raise KeyError(f"no schema_id={sid}")

    def schema_ddl(self, schema_id: int | None = None) -> str:
        s = self.schema(schema_id)
        return ", ".join(f"{f['name']} {f['type']}" for f in s["fields"])

    def _evolve(self, mutate_fields) -> dict:
        """Commit a new current schema: ``mutate_fields(fields, meta)``
        returns the edited copy of the current field list."""
        def mut(meta):
            fields = [dict(f) for f in self.schema(meta=meta)["fields"]]
            new_schema = {"schema_id": len(meta["schemas"]),
                          "fields": mutate_fields(fields, meta)}
            meta["schemas"].append(new_schema)
            meta["current_schema_id"] = new_schema["schema_id"]
            return meta
        return self._commit(mut)

    def add_column(self, name: str, type_ddl: str) -> dict:
        """Metadata-only: existing files read the new column as NULL."""
        type_ss = _parse_type_ddl(type_ddl)  # validate + normalize, no Spark

        def mut(fields, meta):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} exists")
            meta["last_field_id"] += 1
            return fields + [{"id": meta["last_field_id"], "name": name,
                              "type": type_ss}]
        return self._evolve(mut)

    def drop_column(self, name: str) -> dict:
        """Metadata-only drop. Refuses to drop a partition-spec source
        column (matching Iceberg): otherwise the spec keeps referencing a
        dead field id and every later write crashes in ``_write_data``.
        Evolve the spec away from the column first."""
        def mut(fields, meta):
            hit = [f for f in fields if f["name"] == name]
            if not hit:
                raise KeyError(name)
            fid = hit[0]["id"]
            for spec in meta.get("partition_specs", []):
                used = [pf for pf in spec["fields"] if pf["source_id"] == fid]
                if used:
                    raise ValueError(
                        f"cannot drop {name!r}: it is the source of "
                        f"partition field(s) "
                        f"{[pf['name'] for pf in used]} in spec "
                        f"{spec['spec_id']}; set_partition_spec first"
                    )
            return [f for f in fields if f["name"] != name]
        return self._evolve(mut)

    def rename_column(self, old: str, new: str) -> dict:
        """Same field id, new name — no data rewrite; old files still
        resolve BY ID, so the physical column name in them keeps working."""
        def mut(fields, meta):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} exists")
            hit = [f for f in fields if f["name"] == old]
            if not hit:
                raise KeyError(old)
            hit[0]["name"] = new
            return fields
        return self._evolve(mut)

    # -- writes --------------------------------------------------------------

    def _collect_stats(
        self, files: list[str], schema: dict,
        spec_id: int = 0, partitions: dict[str, dict] | None = None,
    ) -> list[dict]:
        """One manifest row per data file: path, rows, bytes, field-id
        keyed min/max from the parquet FOOTER (driver-side, no data read),
        plus the file's hidden-partition tuple and spec id."""
        import pyarrow.parquet as pq

        statable = {
            f["name"]: f["id"] for f in schema["fields"]
            if f["type"] in _STATS_TYPES
        }
        rows = []
        for path in files:
            md = pq.read_metadata(path)
            lo: dict[str, object] = {}
            hi: dict[str, object] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name not in statable or st is None or not st.has_min_max:
                        continue
                    fid = str(statable[name])
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", "replace")
                        mx = mx.decode("utf-8", "replace")
                    mn, mx = _stat_jsonable(mn), _stat_jsonable(mx)
                    lo[fid] = mn if fid not in lo else min(lo[fid], mn)
                    hi[fid] = mx if fid not in hi else max(hi[fid], mx)
            rows.append({
                "file_path": path,
                "n_rows": md.num_rows,
                "n_bytes": os.path.getsize(path),
                "schema_id": schema["schema_id"],
                "lower_bounds": json.dumps(lo),
                "upper_bounds": json.dumps(hi),
                "spec_id": spec_id,
                "partition": json.dumps((partitions or {}).get(path, {})),
            })
        return rows

    def _write_manifest(self, snapshot_id: int, rows: list[dict]) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.manifest_dir, f"snap-{snapshot_id}.parquet")
        schema = pa.schema([
            ("file_path", pa.string()), ("n_rows", pa.int64()),
            ("n_bytes", pa.int64()), ("schema_id", pa.int32()),
            ("lower_bounds", pa.string()), ("upper_bounds", pa.string()),
            ("spec_id", pa.int32()), ("partition", pa.string()),
        ])
        rows = [
            {"spec_id": 0, "partition": "{}", **r} for r in rows
        ]  # older rows re-committed into a new manifest get defaults
        tmp = path + f".{uuid.uuid4().hex}.tmp"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, path)
        return path

    def _manifest_rows(self, snapshot: dict) -> list[dict]:
        import pyarrow.parquet as pq

        return pq.read_table(
            os.path.join(self.base, snapshot["manifest"])
        ).to_pylist()

    def _write_data(
        self, df: DataFrame, write_options: dict | None,
        spec: dict, schema: dict,
    ) -> tuple[list[str], dict[str, dict]]:
        """Write a commit's data files; returns (paths, path → hidden-
        partition tuple). With a non-empty spec the derived transform
        columns drive ``partitionBy`` layout (then vanish — Spark strips
        partition columns from the data files; source columns remain),
        and each file's tuple is parsed back from its directory path."""
        from urllib.parse import unquote

        out = os.path.join(self.data_dir, uuid.uuid4().hex)
        spec_fields = spec["fields"]
        if spec_fields:
            by_id = {f["id"]: f for f in schema["fields"]}
            names = []
            for pf in spec_fields:
                src = by_id[pf["source_id"]]
                dname = f"_p_{pf['name']}"
                df = df.withColumn(
                    dname, _transform_col(pf, src["name"], src["type"])
                )
                names.append(dname)
            df.write.options(**(write_options or {})).partitionBy(
                *names
            ).parquet(out)
        else:
            df.write.options(**(write_options or {})).parquet(out)
        paths: list[str] = []
        partitions: dict[str, dict] = {}
        for root, _dirs, fnames in os.walk(out):
            for f in fnames:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(root, f)
                paths.append(p)
                tup: dict[str, object] = {}
                for seg in os.path.relpath(root, out).split(os.sep):
                    if "=" not in seg:
                        continue
                    k, v = seg.split("=", 1)
                    if k.startswith("_p_"):
                        v = unquote(v)
                        tup[k[3:]] = (
                            None if v == "__HIVE_DEFAULT_PARTITION__" else v
                        )
                partitions[p] = tup
        return sorted(paths), partitions

    def _snapshot_commit(
        self, operation: str, new_rows: list[dict],
        summary_extra: dict | None = None, *,
        merge_parent: bool = False,
        replace_files: set[str] | None = None,
    ) -> dict:
        """Commit a snapshot whose manifest is built INSIDE the CAS retry
        loop, against the parent that is current at each attempt — the
        Iceberg posture (manifests are re-merged on commit retry). Without
        this, two concurrent appends both CAS-retry on metadata but one
        silently drops the other's files from the merged manifest.

        ``merge_parent``: manifest = current parent's rows + ``new_rows``
        (append / add_files). ``replace_files``: manifest = current
        parent's rows MINUS the replaced set, plus ``new_rows`` (compact);
        raises :class:`CommitConflict` if any replaced file has vanished
        from the current manifest (a concurrent overwrite/compact won).
        Neither: manifest = ``new_rows`` alone (overwrite)."""
        snapshot_id = int.from_bytes(os.urandom(7), "big")

        def mut(meta):
            rows = new_rows
            if merge_parent or replace_files is not None:
                cur = self.current_snapshot(meta)
                parent_rows = self._manifest_rows(cur) if cur else []
                if replace_files is not None:
                    live = {r["file_path"] for r in parent_rows}
                    gone = replace_files - live
                    if gone:
                        raise CommitConflict(
                            f"compaction lost a race: {len(gone)} rewritten "
                            f"file(s) no longer in the current manifest"
                        )
                    rows = [
                        r for r in parent_rows
                        if r["file_path"] not in replace_files
                    ] + new_rows
                else:
                    rows = parent_rows + new_rows
            manifest = self._write_manifest(snapshot_id, rows)
            meta["snapshots"].append({
                "snapshot_id": snapshot_id,
                "parent_id": meta["current_snapshot_id"],
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "schema_id": meta["current_schema_id"],
                "manifest": os.path.relpath(manifest, self.base),
                "summary": {
                    "total_files": len(rows),
                    "total_rows": sum(r["n_rows"] for r in rows),
                    **(summary_extra or {}),
                },
            })
            meta["current_snapshot_id"] = snapshot_id
            return meta
        return self._commit(mut)

    def _write_rows(
        self, df: DataFrame, meta: dict, write_options: dict | None,
    ) -> list[dict]:
        """The one write path of every data-writing commit: conform ``df``
        to ``meta``'s current schema, write it under the current partition
        spec, and return its manifest rows. An empty file (a fully-deleted
        rewrite, an empty Spark output part) gets no manifest entry."""
        schema = self.schema(meta=meta)
        spec = self.partition_spec(meta=meta)
        files, parts = self._write_data(
            self._conform(df, schema), write_options, spec, schema
        )
        rows = self._collect_stats(files, schema, spec["spec_id"], parts)
        return [r for r in rows if r["n_rows"] > 0]

    def append(
        self, df: DataFrame, write_options: dict | None = None,
        summary_extra: dict | None = None,
    ) -> dict:
        """New snapshot = parent's file list + the newly written files.
        The DataFrame must match the CURRENT schema (missing nullable
        columns are filled with NULL; extra columns are an error).
        ``summary_extra`` lands in the snapshot summary (e.g. the
        streaming sink's batch stamp)."""
        new_rows = self._write_rows(df, self.metadata(), write_options)
        return self._snapshot_commit(
            "append", new_rows, summary_extra, merge_parent=True
        )

    def overwrite(self, df: DataFrame, write_options: dict | None = None) -> dict:
        """New snapshot whose file list is ONLY the newly written files.
        Old files stay on disk for time travel until expire_snapshots."""
        return self._snapshot_commit(
            "overwrite", self._write_rows(df, self.metadata(), write_options)
        )

    def add_files(
        self, files: list[str], summary_extra: dict | None = None,
    ) -> dict:
        """Metadata-only append: register EXISTING parquet files as a new
        snapshot without rewriting a byte — Iceberg's ``add_files``
        procedure. Stats come from the footers (driver-side); the files
        keep living where they are, so :meth:`expire_snapshots` (which
        GCs only under the table's own ``data/``) never deletes them,
        matching Iceberg's posture for imported files.

        This is the seam a chunked distributed job commits through: write
        the chunk with plain ``df.write.parquet`` wherever the job puts
        its output, then ``add_files`` the result — the snapshot log
        provides atomic visibility, time travel, and idempotent-resume
        bookkeeping at zero data-copy cost.

        Requirements: the table's current partition spec must be
        unpartitioned (imported files carry no hidden-partition tuple),
        and every current-schema column must exist in each footer
        (imported files may not silently read as all-NULL columns).
        """
        meta = self.metadata()
        schema = self.schema(meta=meta)
        spec = self.partition_spec(meta=meta)
        if spec["fields"]:
            raise ValueError(
                "add_files requires an unpartitioned current spec "
                "(imported files have no hidden-partition tuple)"
            )
        if not files:
            raise ValueError("add_files needs at least one file")
        import pyarrow.parquet as pq

        want = {f["name"] for f in schema["fields"]}
        for p in files:
            have = set(pq.read_schema(p).names)
            missing = want - have
            if missing:
                raise ValueError(
                    f"{p}: missing table columns {sorted(missing)}"
                )
        new_rows = self._collect_stats(
            sorted(files), schema, spec["spec_id"], None
        )
        return self._snapshot_commit(
            "add-files", new_rows, summary_extra, merge_parent=True
        )

    def _conform(self, df: DataFrame, schema: dict) -> DataFrame:
        cols = []
        names = set(df.columns)
        for f in schema["fields"]:
            if f["name"] in names:
                cols.append(F.col(f["name"]).cast(f["type"]).alias(f["name"]))
            else:
                cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
        extra = names - {f["name"] for f in schema["fields"]}
        if extra:
            raise ValueError(
                f"columns {sorted(extra)} not in table schema "
                f"(add_column first)"
            )
        return df.select(*cols)

    # -- reads ---------------------------------------------------------------

    def current_snapshot(self, meta: dict | None = None) -> dict | None:
        meta = meta or self.metadata()
        sid = meta["current_snapshot_id"]
        for s in meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return s
        return None

    def _resolve_snapshot(
        self, meta: dict, snapshot_id: int | None, as_of_ms: int | None
    ) -> dict | None:
        if snapshot_id is not None:
            for s in meta["snapshots"]:
                if s["snapshot_id"] == snapshot_id:
                    return s
            raise KeyError(f"no snapshot {snapshot_id}")
        if as_of_ms is not None:
            eligible = [s for s in meta["snapshots"]
                        if s["timestamp_ms"] <= as_of_ms]
            if not eligible:
                raise KeyError(f"no snapshot at or before {as_of_ms}")
            return eligible[-1]  # snapshot list is append-ordered
        return self.current_snapshot(meta)

    def _plan(
        self, meta: dict, snapshot_id: int | None, as_of_ms: int | None,
        predicates: dict[str, tuple] | None,
    ) -> tuple[dict, list[dict], dict]:
        """(read schema, kept manifest rows, report) — all from the ONE
        metadata document ``meta``, so a commit landing mid-read can never
        pair a newer file list with an older schema list. Current reads use
        the CURRENT schema (metadata-only evolutions apply immediately);
        time-travel reads use the schema the snapshot was committed under
        (Iceberg's VERSION AS OF semantics)."""
        snap = self._resolve_snapshot(meta, snapshot_id, as_of_ms)
        if snap is None:
            return self.schema(meta=meta), [], {
                "files_total": 0, "files_scanned": 0, "snapshot_id": None,
            }
        travel = snapshot_id is not None or as_of_ms is not None
        read_schema = self.schema(snap["schema_id"] if travel else None, meta)
        name_to_id = {f["name"]: f["id"] for f in read_schema["fields"]}
        type_of_id = {f["id"]: f["type"] for f in read_schema["fields"]}
        # date/timestamp bounds are stored as fixed-width ISO strings —
        # the predicate side must compare type-consistently
        norm_preds = {
            name: (_stat_jsonable(p_lo), _stat_jsonable(p_hi))
            for name, (p_lo, p_hi) in (predicates or {}).items()
        }
        specs = {s["spec_id"]: s for s in meta.get("partition_specs", [])}
        rows = self._manifest_rows(snap)
        kept = [
            r for r in rows
            if _keep_row(r, name_to_id, type_of_id, specs, norm_preds)
        ]
        report = {
            "files_total": len(rows),
            "files_scanned": len(kept),
            "rows_total": sum(r["n_rows"] for r in rows),
            "rows_scanned": sum(r["n_rows"] for r in kept),
            "snapshot_id": snap["snapshot_id"],
        }
        return read_schema, kept, report

    def plan_files(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        predicates: dict[str, tuple] | None = None,
    ) -> tuple[list[dict], dict]:
        """Manifest rows surviving min/max pruning + a planning report.

        ``predicates`` maps read-schema column name → (lo, hi) bound
        (either side may be None; names resolve to field ids, so pruning
        works across renames). A file is kept unless its stats OR its
        hidden-partition tuple prove no row can match — Iceberg's
        inclusive metrics evaluator + partition-spec evaluator, decided
        per manifest row by :func:`_keep_row`. Planning is a driver-side
        loop over the manifest parquet (no Spark job).
        """
        _, kept, report = self._plan(
            self.metadata(), snapshot_id, as_of_ms, predicates
        )
        return kept, report

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        predicates: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Scan a snapshot (default: current) as a DataFrame.

        Files are grouped by the schema they were WRITTEN with; each group
        gets one explicit-schema parquet scan projected BY FIELD ID onto
        the snapshot's read schema, then the groups ``unionByName``. With
        ``predicates``, manifest pruning happens first and the same bounds
        are re-applied as a residual Spark filter (pruning is file-level;
        the residual keeps row-level semantics exact)."""
        meta = self.metadata()
        read_schema, kept, _ = self._plan(
            meta, snapshot_id, as_of_ms, predicates
        )
        df = self._scan_rows(spark, kept, read_schema, meta)
        for name, (p_lo, p_hi) in (predicates or {}).items():
            if p_lo is not None:
                df = df.filter(F.col(name) >= F.lit(p_lo))
            if p_hi is not None:
                df = df.filter(F.col(name) <= F.lit(p_hi))
        return df

    def _scan_rows(
        self, spark: SparkSession, kept: list[dict], read_schema: dict,
        meta: dict, file_col: str | None = None,
    ) -> DataFrame:
        """Per-schema-group explicit-schema parquet scan projected BY
        FIELD ID onto ``read_schema``, groups unioned. ``file_col`` adds
        an ``input_file_name()`` column (row → data-file attribution, the
        row-level ops' rewrite planner). No files → an empty frame."""
        if not kept:
            return spark.createDataFrame([], _ddl(read_schema))
        groups: dict[int, list[str]] = {}
        for r in kept:
            groups.setdefault(r["schema_id"], []).append(r["file_path"])
        parts = []
        for sid, paths in sorted(groups.items()):
            write_schema = self.schema(sid, meta)
            by_id = {f["id"]: f["name"] for f in write_schema["fields"]}
            cols = []
            for f in read_schema["fields"]:
                phys = by_id.get(f["id"])
                if phys is None:
                    cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
                else:
                    cols.append(F.col(phys).cast(f["type"]).alias(f["name"]))
            if file_col is not None:
                cols.append(F.input_file_name().alias(file_col))
            parts.append(
                spark.read.schema(_ddl(write_schema)).parquet(*paths)
                .select(*cols)
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # -- row-level operations (Iceberg DELETE FROM / UPDATE, copy-on-write) --

    @staticmethod
    def _uri_path(uri: str) -> str:
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path) if "://" in uri or uri.startswith(
            "file:"
        ) else uri

    def _copy_on_write(
        self, spark: SparkSession, meta: dict, detect, rewrite,
        write_options: dict | None,
    ) -> tuple[set[str], int, list[dict]]:
        """The copy-on-write core of DELETE / UPDATE / MERGE (Iceberg
        row-level ops over ``meta``'s current snapshot).

        1. ``detect(scan)`` maps the file-attributed scan to the matched
           rows; grouping them by data file finds the files holding ≥1
           match (everything runs distributed; the driver collects only
           O(touched files) rows).
        2. ``rewrite(scan of the touched files)`` yields their new rows,
           written through :meth:`_write_rows`.

        Returns (touched paths, matched-row count, new manifest rows) —
        nothing touched when nothing matches. The caller commits with
        ``replace_files=touched``: if a concurrent commit removed a touched
        file, that raises :class:`CommitConflict` instead of resurrecting
        replaced rows. Snapshot isolation: rows appended by commits AFTER
        ``meta`` are not affected (Iceberg's default for row-level ops)."""
        snap = self.current_snapshot(meta)
        kept = self._manifest_rows(snap) if snap else []
        if not kept:
            return set(), 0, []
        schema = self.schema(meta=meta)
        scan = self._scan_rows(spark, kept, schema, meta, file_col="_sf_file")
        hits = detect(scan).groupBy("_sf_file").count().collect()
        by_path = {self._uri_path(r["_sf_file"]): r["count"] for r in hits}
        touched = [r for r in kept if r["file_path"] in by_path]
        if len(touched) != len(by_path):
            # a hit file that fails to map back to a manifest path would
            # silently drop its rewrite (and, for MERGE, exclude its source
            # rows from the insert) — a lost update must be an error instead
            unknown = set(by_path) - {r["file_path"] for r in touched}
            raise RuntimeError(
                f"row scan attributed rows to file(s) outside the "
                f"manifest: {sorted(unknown)[:3]}"
            )
        if not touched:
            return set(), 0, []
        new_rows = self._write_rows(
            rewrite(self._scan_rows(spark, touched, schema, meta)),
            meta, write_options,
        )
        return {r["file_path"] for r in touched}, sum(by_path.values()), new_rows

    def _rewrite_where(
        self, spark: SparkSession, operation: str, meta: dict,
        predicate: str, transform, write_options: dict | None,
    ) -> dict:
        """DELETE/UPDATE front end of :meth:`_copy_on_write`: rows match
        ``predicate`` (SQL NULL semantics — NULL never matches), touched
        files rewrite through ``transform(df, matched)``. Matching nothing
        is a no-op (no empty snapshot)."""
        matched = F.coalesce(F.expr(f"({predicate})"), F.lit(False))
        touched, n_matched, new_rows = self._copy_on_write(
            spark, meta, lambda scan: scan.filter(matched),
            lambda df: transform(df, matched), write_options,
        )
        if not touched:
            return meta
        return self._snapshot_commit(
            operation, new_rows,
            {
                "matched_rows": n_matched,
                "rewritten_files": len(touched),
                "added_files": len(new_rows),
            },
            replace_files=touched,
        )

    def delete_where(
        self, spark: SparkSession, predicate: str,
        write_options: dict | None = None,
    ) -> dict:
        """Row-level DELETE (copy-on-write): rewrite exactly the data
        files holding matching rows, without those rows; untouched files
        keep their manifest entries (and their stats) unchanged. A file
        whose every row matches is simply dropped. Matching nothing is a
        no-op (no empty snapshot). NULL predicates keep the row (SQL
        DELETE semantics)."""
        return self._rewrite_where(
            spark, "delete", self.metadata(), predicate,
            lambda df, matched: df.filter(~matched), write_options,
        )

    def update_where(
        self, spark: SparkSession, predicate: str,
        assignments: dict[str, str],
        write_options: dict | None = None,
    ) -> dict:
        """Row-level UPDATE (copy-on-write): rewrite the files holding
        matching rows with ``assignments`` (column → SQL expression over
        the pre-update row) applied to matching rows only; non-matching
        rows in the same file are rewritten byte-identical in value."""
        meta = self.metadata()
        types = {f["name"]: f["type"] for f in self.schema(meta=meta)["fields"]}
        for col in assignments:
            if col not in types:
                raise KeyError(f"update_where: no column {col!r}")
        return self._rewrite_where(
            spark, "update", meta, predicate,
            lambda df, matched: _assign(df, matched, assignments, types),
            write_options,
        )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: list[str] | str,
        when_matched: str | dict[str, str] = "update_all",
        when_not_matched: str = "insert",
        write_options: dict | None = None,
    ) -> dict:
        """MERGE INTO (Iceberg copy-on-write upsert), ONE atomic snapshot:

        - target rows whose ``on`` key appears in ``source`` apply
          ``when_matched``: ``"update_all"`` (non-key columns replaced by
          the source row's), ``"delete"``, or a dict of target column →
          SQL expression over the joined row (source columns are exposed
          as ``src_<name>``);
        - source rows matching no target key apply ``when_not_matched``:
          ``"insert"`` (conformed to the current schema) or ``"ignore"``;
        - ONLY the data files holding matched keys rewrite; every other
          manifest entry survives verbatim. Commit-time conflict checking
          is the same as delete/update (:class:`CommitConflict`).

        ``source`` must be key-unique on ``on`` (checked distributed;
        duplicate keys make the merge ambiguous — Iceberg raises too).

        Scale shape: one key-equi-join against the source per phase
        (detection semi-join, rewrite left-join, insert anti-join), all
        shuffles on the merge key; the rewrite and insert legs scan only
        matched files.
        """
        keys = [on] if isinstance(on, str) else list(on)
        meta = self.metadata()
        types = {f["name"]: f["type"] for f in self.schema(meta=meta)["fields"]}
        for k in keys:
            if k not in types:
                raise KeyError(f"merge_into: no key column {k!r}")
            if k not in source.columns:
                raise KeyError(f"merge_into: source lacks key column {k!r}")
        if isinstance(when_matched, dict):
            for col in when_matched:
                if col not in types:
                    raise KeyError(f"merge_into: no column {col!r}")
                if col in keys:
                    raise ValueError(f"merge_into: cannot assign key {col!r}")
            assignments = when_matched
        elif when_matched == "update_all":
            assignments = {
                n: f"src_{n}" for n in types
                if n not in keys and n in source.columns
            }
        elif when_matched != "delete":
            raise ValueError(f"bad when_matched {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"bad when_not_matched {when_not_matched!r}")

        dup = (
            source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
        ).collect()
        if dup:
            raise ValueError(
                f"merge_into: source is not key-unique on {keys} "
                f"(e.g. {[dup[0][k] for k in keys]})"
            )

        src = source.select(*keys, *[
            F.col(n).alias(f"src_{n}") for n in source.columns if n not in keys
        ])
        touched_keys: list[DataFrame] = []

        def rewrite(df: DataFrame) -> DataFrame:
            touched_keys.append(df.select(*keys))
            # matched marker that survives NULL source values: an explicit
            # flag column (checking any src_ column for NULL would
            # misclassify legitimately-NULL source values)
            joined = df.join(
                src.withColumn("_src_hit", F.lit(True)), on=keys, how="left"
            )
            hit = F.coalesce(F.col("_src_hit"), F.lit(False))
            if when_matched == "delete":
                return joined.filter(~hit).select(*types)
            return _assign(joined, hit, assignments, types).select(*types)

        touched, n_matched, new_rows = self._copy_on_write(
            spark, meta,
            lambda scan: scan.join(src.select(*keys), on=keys, how="leftsemi"),
            rewrite, write_options,
        )
        n_inserted = 0
        if when_not_matched == "insert":
            # a source key that matches any target row matches one in a
            # touched file, so the anti-join needs only the touched files
            ins = source
            if touched_keys:
                ins = source.join(touched_keys[0], on=keys, how="leftanti")
            rows = self._write_rows(ins, meta, write_options)
            n_inserted = sum(r["n_rows"] for r in rows)
            new_rows += rows

        if not touched and not new_rows:
            return meta  # nothing matched, nothing to insert
        return self._snapshot_commit(
            "merge", new_rows,
            {
                "matched_rows": n_matched,
                "rewritten_files": len(touched),
                "inserted_rows": n_inserted,
            },
            replace_files=touched or None,
            merge_parent=not touched,
        )

    # -- metadata tables (Iceberg's table.history / table.files analogues) ---

    def history(self, spark: SparkSession) -> DataFrame:
        meta = self.metadata()
        rows = [
            (s["snapshot_id"], s["parent_id"], s["timestamp_ms"],
             s["operation"], s["schema_id"],
             s["summary"]["total_files"], s["summary"]["total_rows"])
            for s in meta["snapshots"]
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, timestamp_ms long, "
            "operation string, schema_id int, total_files long, "
            "total_rows long",
        )

    def files(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        kept, _ = self.plan_files(snapshot_id=snapshot_id)
        return spark.createDataFrame(
            [
                (r["file_path"], r["n_rows"], r["n_bytes"], r["schema_id"],
                 r["lower_bounds"], r["upper_bounds"],
                 r.get("spec_id", 0), r.get("partition", "{}"))
                for r in kept
            ],
            "file_path string, n_rows long, n_bytes long, schema_id int, "
            "lower_bounds string, upper_bounds string, spec_id int, "
            "partition string",
        )

    # -- maintenance ---------------------------------------------------------

    def _zorder_value(self, df: DataFrame, cols: list[str], schema: dict):
        """Column: 16-bit-per-dimension Morton (Z-order) interleave of the
        named numeric columns, min-max normalized over the CURRENT rows.

        One tiny agg collects k (min, max) pairs to the driver; the
        interleave itself is a pure JVM Column expression (48 bit-ops for
        k=3 — whole-stage-codegen fodder, no Python). NULLs quantize to
        0 (clustered at the origin; footer stats stay correct because
        pruning reads the REAL column bounds, not the z-value)."""
        types = {f["name"]: f["type"] for f in schema["fields"]}
        numeric = ("tinyint", "smallint", "int", "integer", "bigint",
                   "long", "float", "real", "double", "decimal")
        for c in cols:
            t = types.get(c, "")
            if not t.startswith(numeric):
                raise ValueError(
                    f"zorder column {c!r} has non-numeric type {t!r}"
                )
        row = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"lo_{i}")
              for i, c in enumerate(cols)],
            *[F.max(F.col(c).cast("double")).alias(f"hi_{i}")
              for i, c in enumerate(cols)],
        ).first()
        # floor(63/k) bits per dimension, capped at 16: the interleave must
        # never reach bit 63 (the sign bit would invert the clustering
        # order) nor wrap shiftleft mod 64 (ADVICE r6: with k=4 the old
        # fixed 16 bits put the top bit on 63; with k>=5 bits collided)
        k = len(cols)
        bits = min(16, 63 // k)
        qmax = (1 << bits) - 1
        quantized = []
        for i, c in enumerate(cols):
            lo = row[f"lo_{i}"]
            hi = row[f"hi_{i}"]
            lo = 0.0 if lo is None else float(lo)
            span = (float(hi) - lo) if hi is not None and float(hi) > lo else 1.0
            q = F.floor(
                (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * float(qmax)
            ).cast("long")
            q = F.least(F.lit(qmax), F.greatest(F.lit(0), q))
            quantized.append(F.coalesce(q, F.lit(0)))
        zv = F.lit(0).cast("long")
        for bit in range(bits):
            for j, q in enumerate(quantized):
                zv = zv + F.shiftleft(
                    F.shiftright(q, bit).bitwiseAND(F.lit(1)), bit * k + j
                )
        return zv

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        write_options: dict | None = None,
        sort_by: list[str] | None = None,
        zorder: list[str] | None = None,
    ) -> dict:
        """Rewrite the current file set into ~target-sized files as a
        ``rewrite`` snapshot (same logical rows; read plans shrink).
        The rewrite normalizes every row to the CURRENT schema, so a
        post-compaction table is single-schema-generation again.

        ``sort_by`` clusters the rewrite (Iceberg's rewrite_data_files
        with a sort order): a range-partitioned global sort on the named
        current-schema columns, so each output file covers a narrow slice
        of the sort key and the footer min/max stats actually prune
        point/range reads on those columns — the difference between
        "stats exist" and "stats bite" at 100 TB. With a partition spec,
        the sort is applied WITHIN each partition clustering instead
        (partition layout still wins the file boundaries).

        ``zorder`` clusters by the Morton interleave of 2+ numeric
        columns instead (Iceberg/Delta Z-ORDER): each output file covers
        a small HYPER-RECTANGLE of the key space, so footer min/max
        stats prune point/range reads on EVERY listed column — a linear
        ``sort_by`` only prunes its leading column. Mutually exclusive
        with ``sort_by``."""
        if sort_by and zorder:
            raise ValueError("sort_by and zorder are mutually exclusive")
        meta = self.metadata()
        cur = self.current_snapshot(meta)
        if cur is None:
            raise ValueError("empty table")
        rows = self._manifest_rows(cur)
        total = sum(r["n_bytes"] for r in rows)
        n_out = max(1, -(-total // target_file_bytes))
        schema = self.schema(meta=meta)
        spec = self.partition_spec(meta=meta)
        known = {f["name"] for f in schema["fields"]}
        for cols, what in ((sort_by, "sort_by"), (zorder, "zorder")):
            if cols:
                bad = [c for c in cols if c not in known]
                if bad:
                    raise KeyError(f"{what} columns {bad} not in schema")
        if zorder and len(zorder) < 2:
            raise ValueError("zorder needs at least 2 columns (use sort_by)")
        # the scan of exactly the files this rewrite replaces, under the
        # current schema (a second metadata read could see newer files)
        df = self._scan_rows(spark, rows, schema, meta)
        if zorder:
            df = df.withColumn("_zv", self._zorder_value(df, zorder, schema))
            sort_by = ["_zv"]  # downstream clustering path is identical
        if spec["fields"]:
            # cluster by the partition transforms so each partition value
            # lands in one task → one file per value, not n_out per value
            by_id = {f["id"]: f for f in schema["fields"]}
            cols = [
                _transform_col(pf, by_id[pf["source_id"]]["name"],
                               by_id[pf["source_id"]]["type"])
                for pf in spec["fields"]
            ]
            df = df.repartition(int(n_out), *cols)
            if sort_by:
                df = df.sortWithinPartitions(*sort_by)
        elif sort_by:
            # range-partitioned global sort: one exchange, file k holds
            # sort-key range k — footer bounds become disjoint intervals
            df = df.repartitionByRange(int(n_out), *sort_by)
            df = df.sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(int(n_out))
        if zorder:
            df = df.drop("_zv")  # clustering key only — never written
        return self._snapshot_commit(
            "rewrite", self._write_rows(df, meta, write_options),
            replace_files={r["file_path"] for r in rows},
        )

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files + manifests unreachable from the survivors."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")

        def mut(meta):
            meta["snapshots"] = meta["snapshots"][-keep_last:]  # append order
            return meta
        new = self._commit(mut)
        live_files: set[str] = set()
        live_manifests: set[str] = set()
        for s in new["snapshots"]:
            live_manifests.add(os.path.join(self.base, s["manifest"]))
            for r in self._manifest_rows(s):
                live_files.add(r["file_path"])
        for name in os.listdir(self.manifest_dir):
            p = os.path.join(self.manifest_dir, name)
            if p.endswith(".parquet") and p not in live_manifests:
                os.unlink(p)
        # Bottom-up walk: hidden partitioning nests data files under
        # _p_col=value/ dirs, so dead files can be arbitrarily deep and a
        # dir is removable only once every child dir has been handled.
        for root, dirs, fnames in os.walk(self.data_dir, topdown=False):
            for f in fnames:
                p = os.path.join(root, f)
                if f.endswith(".parquet") and p not in live_files:
                    os.unlink(p)
            if root == self.data_dir:
                continue
            left = os.listdir(root)
            if not any(f.endswith(".parquet") or os.path.isdir(
                    os.path.join(root, f)) for f in left):
                for f in left:  # _SUCCESS, .crc
                    os.unlink(os.path.join(root, f))
                os.rmdir(root)
        return new
