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
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

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


def iceberg_available(spark) -> bool:
    """True if an Iceberg catalog can be configured in this session."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.Class.forName("org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        return True
    except Exception:
        return False


class IndexStorage:
    """Partitioned-parquet table format with an explicit manifest."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

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
        w = df.write.mode(mode)
        if options:
            for k, v in options.items():
                w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        p = self.table_path(name)
        w.parquet(p)
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
        partition exists.  The postings table's only writer
        (build._write_postings) commits through here."""
        base = self.table_path(name)
        tmp = base + "__build_tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
        os.makedirs(base, exist_ok=True)
        for v in vals:
            sub = f"{partition_col}={v}"
            src = os.path.join(tmp, sub)
            dst = os.path.join(base, sub)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            if os.path.exists(src):
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

    def lookup_rows(self, name: str, key_col: str, values, columns=None):
        """Driver-side point lookup: rows of table ``name`` whose
        ``key_col`` is in ``values``, via a pyarrow dataset scan with
        predicate pushdown.  The term-dictionary read of a search engine
        is a k-key lookup; a Spark job per lookup costs ~100 ms of fixed
        scheduling for 2-3 rows.  Row groups are pruned by parquet
        min/max stats, and build_index writes term_stats range-
        partitioned + term-sorted, so the scan touches at most ~k row
        groups regardless of vocabulary size (bounded driver work — this
        is a dictionary probe, not a data pass).  Returns a list of
        dicts, or None if the pyarrow path is unavailable (caller falls
        back to a Spark collect)."""
        try:
            import pyarrow.dataset as pads

            d = pads.dataset(self.table_path(name), format="parquet")
            tbl = d.to_table(
                columns=columns, filter=pads.field(key_col).isin(list(values))
            )
            return tbl.to_pylist()
        except Exception:
            return None


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
