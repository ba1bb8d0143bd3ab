"""Index storage layer: Iceberg when available, partitioned Parquet otherwise.

The north_rule asks for Iceberg tables with per-partition lineage +
metrics and resumable builds.  This sandbox has no Iceberg runtime jar
and no network (SURVEY.md §7.0), so the layer is written against one
small API and backed by:

  * ``iceberg`` mode  — ``df.writeTo(catalog.table).append()`` (activated
    automatically if the Iceberg SQL extension is on the classpath; the
    config flip lives in :func:`iceberg_available`)
  * ``parquet`` mode  — a directory per table + an explicit JSON manifest
    (``_manifest.json``) recording snapshot id, completed shard-groups,
    and per-group build metrics.  This preserves the observable contract:
    atomic-ish commits (write to ``_tmp`` then rename), resume-from-
    checkpoint, lineage.

Tables of an index root:
    pages        (optional materialized input)
    docs         doc_id, url, title, doc_len, pagerank, numviews
    doc_terms    doc_id, term, tf
    postings     shard, term, df_shard, ctf_shard, blocks[...]   (partitioned by shard_group)
    term_stats   term, df, ctf
    stats        num_docs, total_tf, max_dl
    build_meta   per-shard-group build metrics + attempt lineage

Point reads.  The tables of POINT_KEYS are read by key from the driver
(IndexStorage.lookup_rows): the dictionary probe, a query's postings,
the winners' docs rows.  Their writers cluster rows on the key
(postings and docs are range-partitioned on it, every file is sorted
by it), row groups are capped at ROW_GROUP_BYTES, and the commit
records each data file's per-row-group [min, max] key range in a
``_ranges.json`` next to the files (read once from the fresh footers,
driver-side).  A lookup then reads only the files, and decodes only
the row groups, whose range covers a wanted key, so its cost follows
the query's own rows, not the table's size.

An IndexStorage is also the index OPENED for reading: the first point
read of a table lists its data files, takes their ranges from the
_ranges.json records and parses their footers, and the instance keeps
all of it (and the files open) until close().  A serving process keeps
one instance per index generation (serve.SearchHTTPServer), so a warm
lookup pays only for its own row groups.  An instance sees commits made
through other instances only when reopened.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import threading
import time
import uuid

# table -> key column of the driver-side point reads (lookup_rows)
POINT_KEYS = {"postings": "term", "docs": "doc_id", "term_stats": "term"}
# Row-group cap of the POINT_KEYS tables, in bytes (the parquet writer's
# block size): a point read decodes whole row groups, so this bounds
# what one key costs at any table size.  Bytes, not rows — a row cap
# would multiply footer bytes on small tables and leave fat head-term
# postings rows unbounded.
ROW_GROUP_BYTES = 1 << 20
# per-directory record of each data file's row-group key ranges
RANGES_FILE = "_ranges.json"

# (path -> (dir_mtime_ns, StructType)) memo for parquet schema inference:
# every bare ``spark.read.parquet`` runs a footer-reading JOB (~50-100 ms
# of fixed scheduling cost in local mode, a full stage on a cluster) even
# when the table was just written by this very process.  Index tables
# have fixed schemas per path, so the first read (or the write itself)
# records the schema and later reads pass it explicitly — zero jobs.
# Keyed on the directory mtime (ns) so an overwrite with a different
# schema invalidates the entry.
_SCHEMA_CACHE: dict[str, tuple[int, object]] = {}


def _dir_mtime_ns(path: str) -> int:
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


def _cache_schema(path: str, schema) -> None:
    _SCHEMA_CACHE[path] = (_dir_mtime_ns(path), schema)


def read_parquet_cached(spark, path: str, base_path: str | None = None):
    """spark.read.parquet with the schema-inference job memoized away."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    hit = _SCHEMA_CACHE.get(path)
    mtime = _dir_mtime_ns(path)
    if hit is not None and hit[0] == mtime:
        return reader.schema(hit[1]).parquet(path)
    df = reader.parquet(path)
    _SCHEMA_CACHE[path] = (mtime, df.schema)
    return df


def _data_files(d: str) -> list:
    """The parquet data files of one table directory, by name (Spark's
    and pyarrow's hidden-file rule: ``_``/``.`` names are not data)."""
    return sorted(
        (
            e
            for e in os.scandir(d)
            if e.is_file()
            and e.name.endswith(".parquet")
            and not e.name.startswith(("_", "."))
        ),
        key=lambda e: e.name,
    )


def _leaf_dirs(path: str) -> list[str]:
    """The directories holding a table's data files: the partition
    directories (``col=val``) of a partitioned table, else the table
    directory itself."""
    subs = sorted(e.path for e in os.scandir(path) if e.is_dir() and "=" in e.name)
    return [d for s in subs for d in _leaf_dirs(s)] if subs else [path]


def _file_key_ranges(path: str, key_col: str) -> list:
    """[min, max] of ``key_col`` per row group of one parquet file, from
    its footer; None for a row group without statistics (always read)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    j = next(i for i in range(md.num_columns) if md.schema.column(i).path == key_col)
    out = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(j).statistics
        out.append([st.min, st.max] if st is not None and st.has_min_max else None)
    return out


def key_ranges(d: str, key_col: str, recorded: dict | None = None) -> dict:
    """{file name: {"size", "row_groups": per-row-group [min, max]}} for
    the data files of directory ``d``.  A file listed in ``recorded``
    (a _ranges.json "files" map) with its size unchanged takes the
    recorded ranges; any other file's are read from its footer — the
    one path for both a commit and a root written without a record."""
    recorded = recorded or {}
    out = {}
    for e in _data_files(d):
        size = e.stat().st_size
        hit = recorded.get(e.name)
        out[e.name] = {
            "size": size,
            "row_groups": hit["row_groups"]
            if hit is not None and hit.get("size") == size
            else _file_key_ranges(e.path, key_col),
        }
    return out


def record_key_ranges(d: str, key_col: str) -> None:
    """Commit-time record of every data file's row-group key ranges in
    ``d`` (read once from the fresh footers, driver-side) as
    ``d/_ranges.json``."""
    tmp = os.path.join(d, RANGES_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"key": key_col, "files": key_ranges(d, key_col)}, f)
    os.replace(tmp, os.path.join(d, RANGES_FILE))


def _recorded_ranges(d: str, key_col: str) -> dict:
    """The "files" map of ``d``'s _ranges.json, {} when it is missing,
    unreadable or records another key."""
    try:
        with open(os.path.join(d, RANGES_FILE)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return {}
    return rec.get("files", {}) if rec.get("key") == key_col else {}


def _covers(want: list, rng) -> bool:
    """Does the row-group range ``rng`` hold any of the sorted ``want``?"""
    if rng is None:
        return True
    i = bisect.bisect_left(want, rng[0])
    return i < len(want) and want[i] <= rng[1]


def iceberg_available(spark) -> bool:
    """True if an Iceberg catalog can be configured in this session."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.Class.forName("org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        return True
    except Exception:
        return False


class _PointFile:
    """One data file of a point-read table: its row-group key ranges
    and, once read, its parsed footer and open reader.  Reads of one
    file are serialized (one reader, shared by threads); a closed file
    still reads, opening and closing its reader per read."""

    def __init__(self, path: str, ranges: list, closed: bool):
        self.path = path
        self.ranges = ranges
        self.meta = None  # the parsed footer
        self._reader = None
        self._closed = closed
        self._lock = threading.Lock()

    def read(self, row_groups: list[int], columns):
        """The ``row_groups`` as one pyarrow table."""
        import pyarrow.parquet as pq

        with self._lock:
            reader = self._reader or pq.ParquetFile(self.path, metadata=self.meta)
            self.meta = reader.metadata
            try:
                # a few small row groups: decoder threads cost more than
                # they save
                return reader.read_row_groups(row_groups, columns=columns, use_threads=False)
            finally:
                if self._closed:
                    reader.close()
                else:
                    self._reader = reader

    def close(self) -> None:
        with self._lock:
            self._closed = True
            if self._reader is not None:
                self._reader.close()
                self._reader = None


class IndexStorage:
    """Partitioned-parquet table format with an explicit manifest, and
    the index opened for point reads (see the module docstring).

    Constructing one touches nothing on disk: the write paths create the
    root, and IndexStorage.open names a missing root instead of reading
    nothing from it."""

    def __init__(self, root: str):
        self.root = root
        # {term: (df, ctf) or None}: the dictionary probe's memo
        # (topk._df_lookup); None pins "absent from index"
        self.term_stats: dict[str, tuple[int, int] | None] = {}
        self._point: dict[str, list[_PointFile]] = {}
        self._segments: dict[str, "IndexStorage"] = {}
        self._lock = threading.Lock()
        self._closed = False

    @classmethod
    def open(cls, root: str) -> "IndexStorage":
        """The index at ``root`` for reading (see require)."""
        return cls(root).require()

    def require(self) -> "IndexStorage":
        """This store, or FileNotFoundError naming the root when it does
        not exist: a read never creates it, and fails with this one
        error instead of whichever table it would have read first."""
        if not os.path.isdir(self.root):
            raise FileNotFoundError(f"no index at {self.root}: the directory does not exist")
        return self

    def segment(self, name: str) -> "IndexStorage":
        """The store of the sub-index ``name`` under this root (a live
        root's segment), opened once and closed with this store."""
        with self._lock:
            if name not in self._segments:
                seg = IndexStorage(os.path.join(self.root, name))
                seg._closed = self._closed
                self._segments[name] = seg
            return self._segments[name]

    def close(self) -> None:
        """Release every file this store (and its segments) opened.  A
        read still in flight finishes; later reads open, read and close
        their files."""
        with self._lock:
            self._closed = True
            files = [f for fs in self._point.values() for f in fs]
            segments = list(self._segments.values())
        for f in files:
            f.close()
        for seg in segments:
            seg.close()

    def __enter__(self) -> "IndexStorage":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def read_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {
            "snapshot_id": None,
            "build_id": None,
            "created_ts": None,
            "completed_groups": [],
            "attempts": [],
            "config": {},
        }

    def write_manifest(self, manifest: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def new_build_id(self) -> str:
        return uuid.uuid4().hex[:12]

    def mark_group_complete(self, group: int, metrics: dict) -> None:
        m = self.read_manifest()
        if group not in m["completed_groups"]:
            m["completed_groups"].append(group)
            m["completed_groups"].sort()
        m.setdefault("group_metrics", {})[str(group)] = metrics
        self.write_manifest(m)

    def completed_groups(self) -> set[int]:
        return set(self.read_manifest()["completed_groups"])

    def finalize_snapshot(self, config: dict) -> str:
        m = self.read_manifest()
        m["snapshot_id"] = uuid.uuid4().hex[:16]
        m["created_ts"] = time.time()
        m["config"] = config
        self.write_manifest(m)
        return m["snapshot_id"]

    # -- tables -----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write_table(
        self, df, name: str, mode: str = "overwrite", partition_by=None, options=None
    ):
        w = _writer(df, name).mode(mode)
        if options:
            for k, v in options.items():
                w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        p = self.table_path(name)
        self._forget(name)
        w.parquet(p)
        if name in POINT_KEYS:
            for d in _leaf_dirs(p):
                record_key_ranges(d, POINT_KEYS[name])
        if not partition_by:
            # seed the schema memo: the common write-then-read-back flow
            # (build metrics, term_stats) must not pay an inference job
            _cache_schema(p, df.schema)

    def write_small_table(self, pdf, name: str, schema) -> None:
        """Driver-side parquet write for METADATA-scale tables (stats,
        build_meta: a handful of rows).  A Spark write action costs a
        full job (~150 ms fixed) to move a few hundred bytes; these
        tables are driver-known scalars, so write them like the manifest
        — directly, with an explicit arrow schema so Spark reads them
        back with exactly the declared column types."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = self.table_path(name)
        if os.path.exists(p):
            shutil.rmtree(p)
        os.makedirs(p)
        table = pa.Table.from_pydict(pdf, schema=schema)
        pq.write_table(table, os.path.join(p, "part-00000.parquet"))
        with open(os.path.join(p, "_SUCCESS"), "w"):
            pass

    def read_table(self, spark, name: str):
        return read_parquet_cached(spark, self.table_path(name))

    def exists(self, name: str) -> bool:
        p = self.table_path(name)
        return os.path.exists(p) and (
            os.path.exists(os.path.join(p, "_SUCCESS"))
            or any(x.startswith(("part-", "group=", "shard_group=")) for x in os.listdir(p))
        )

    def drop(self, name: str) -> None:
        self._forget(name)
        p = self.table_path(name)
        if os.path.exists(p):
            shutil.rmtree(p)

    def write_partitions_atomic(self, df, name: str, partition_col: str, vals) -> None:
        """ONE dynamic-partitioned write committed per partition dir:
        the whole frame is written to a ``__build_tmp`` sibling, then
        each ``col=val`` dir is moved into place, so a crash before the
        moves leaves the live table untouched and dirs outside ``vals``
        (groups committed by an earlier attempt) are never touched.
        ``vals`` lists every partition value being written; values the
        data did not produce get an empty dir so every expected
        partition exists.  A POINT_KEYS table's key ranges are recorded
        in each dir before it moves, so they commit with its files.  The
        postings table's only writer (build._write_postings) commits
        through here."""
        self._forget(name)
        base = self.table_path(name)
        tmp = base + "__build_tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        _writer(df, name).mode("overwrite").partitionBy(partition_col).parquet(tmp)
        os.makedirs(base, exist_ok=True)
        for v in vals:
            sub = f"{partition_col}={v}"
            src = os.path.join(tmp, sub)
            dst = os.path.join(base, sub)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            if os.path.exists(src):
                if name in POINT_KEYS:
                    record_key_ranges(src, POINT_KEYS[name])
                os.replace(src, dst)
            else:
                os.makedirs(dst)
        shutil.rmtree(tmp)
        self._seed_partitioned_schema(df.schema, name, partition_col)

    def _seed_partitioned_schema(self, data_schema, name: str, partition_col: str) -> None:
        """Seed the schema memo for a partitioned table just written:
        discovery appends the partition column (int-valued dir names
        infer as integer) after the data columns."""
        from pyspark.sql import types as T

        fields = [f for f in data_schema.fields if f.name != partition_col]
        fields.append(T.StructField(partition_col, T.IntegerType()))
        _cache_schema(self.table_path(name), T.StructType(fields))

    def read_partitioned(self, spark, name: str):
        p = self.table_path(name)
        return read_parquet_cached(spark, p, base_path=p)

    def _forget(self, name: str) -> None:
        """Drop what this store opened of table ``name`` (it is being
        rewritten)."""
        with self._lock:
            files = self._point.pop(name, [])
        for f in files:
            f.close()

    def _point_files(self, name: str, key_col: str) -> list[_PointFile]:
        """Table ``name``'s data files with their row-group key ranges:
        listed, and the ranges taken from the _ranges.json records (or
        the footers), on the first call only."""
        with self._lock:
            files = self._point.get(name)
            if files is None:
                files = [
                    _PointFile(os.path.join(d, fname), rec["row_groups"], self._closed)
                    for d in _leaf_dirs(self.table_path(name))
                    for fname, rec in key_ranges(
                        d, key_col, _recorded_ranges(d, key_col)
                    ).items()
                ]
                self._point[name] = files
            return files

    def point_schema(self, name: str):
        """The pyarrow schema of point-read table ``name``, from its
        first data file's footer (read once)."""
        files = self._point_files(name, POINT_KEYS[name])
        if not files:
            raise FileNotFoundError(f"no data files in {self.table_path(name)}")
        if files[0].meta is None:
            files[0].read([], None)
        return files[0].meta.schema.to_arrow_schema()

    def lookup_rows(
        self, name: str, key_col: str, values, columns=None, reads: dict | None = None
    ):
        """Driver-side point lookup: rows of table ``name`` whose
        ``key_col`` is in ``values``.  A search engine's dictionary
        probe, postings fetch and winners' metadata are k-key lookups; a
        Spark job per lookup costs ~100 ms of fixed scheduling for a few
        rows.  The read is range-directed: each data file's row-group
        [min, max] key ranges (recorded at commit, see key_ranges) pick
        the files to read and the row groups to decode, and only the
        matching rows are kept.  On a key-clustered table (postings and
        docs are range-partitioned on their key, every file is
        key-sorted) that is about one row group per key and partition,
        whatever the table's size.  The file list, the ranges and the
        footers come from this store's first read of the table; later
        reads reuse them and the open files.

        ``columns`` name top-level columns or nested leaves
        (``blocks.list.element.n``: only those leaves are decoded).
        ``reads``: a dict this call adds its evidence to, under
        ``reads[name]``: files and row groups read versus the table's
        totals.  Returns a pyarrow Table of the matching rows (the
        top-level columns of ``columns``, else all), or None if the
        pyarrow path is unavailable (caller falls back to a Spark
        collect)."""
        try:
            import pyarrow as pa
            import pyarrow.compute as pc

            want = sorted(set(values))
            cols = None if columns is None else list(dict.fromkeys([*columns, key_col]))
            zero = dict.fromkeys(
                ("files_read", "files_total", "row_groups_read", "row_groups_total"), 0
            )
            seen = zero if reads is None else reads.setdefault(name, zero)
            files = self._point_files(name, key_col)
            parts = []
            for f in files:
                rgs = [i for i, r in enumerate(f.ranges) if _covers(want, r)]
                seen["files_total"] += 1
                seen["row_groups_total"] += len(f.ranges)
                if rgs:
                    seen["files_read"] += 1
                    seen["row_groups_read"] += len(rgs)
                    parts.append(f.read(rgs, cols))
            if not files:
                return None
            if not parts:  # no row group holds a wanted key
                parts = [files[0].read([], cols)]
            tbl = pa.concat_tables(parts)
            keys = pa.array(want).cast(tbl.schema.field(key_col).type)
            tbl = tbl.filter(pc.is_in(tbl[key_col], value_set=keys))
            if columns is None:
                return tbl
            return tbl.select(list(dict.fromkeys(c.split(".")[0] for c in columns)))
        except Exception:
            return None


def _writer(df, name: str):
    """``df.write`` with a POINT_KEYS table's row groups capped at
    ROW_GROUP_BYTES."""
    w = df.write
    return w.option("parquet.block.size", str(ROW_GROUP_BYTES)) if name in POINT_KEYS else w


def skew_report(store: "IndexStorage", spark) -> dict:
    """Head-term skew report from the postings table + manifest metrics.

    Doc-sharding bounds any term's per-task posting list at
    ceil(df / n_shards); this report shows the realized bound so skew
    regressions are visible per build (north_rule: skew handled
    explicitly, metrics recorded)."""
    from pyspark.sql import functions as F

    m = store.read_manifest()
    p = store.read_partitioned(spark, "postings")
    head = (
        p.groupBy("term")
        .agg(F.sum("df_shard").alias("df"), F.max("df_shard").alias("max_shard_df"))
        .orderBy(F.desc("df"))
        .limit(10)
        .collect()
    )
    cfg = m.get("config", {})
    n_shards = cfg.get("n_shards")
    num_docs = cfg.get("num_docs")
    # the structural bound: a shard holds at most ceil(num_docs/n_shards)
    # docs, so no term's per-shard list can exceed that regardless of df
    shard_cap = (
        (num_docs + n_shards - 1) // n_shards
        if (n_shards and num_docs is not None)
        else None
    )
    return {
        "n_shards": n_shards,
        "shard_doc_cap": shard_cap,
        "per_group_max_term_postings": {
            g: v.get("max_term_postings") for g, v in m.get("group_metrics", {}).items()
        },
        "head_terms": [
            {
                "term": r["term"],
                "df": r["df"],
                "max_shard_df": r["max_shard_df"],
                "bound_ok": shard_cap is None or r["max_shard_df"] <= shard_cap,
            }
            for r in head
        ],
    }
