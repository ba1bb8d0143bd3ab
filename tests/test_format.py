"""The on-disk format contract (sources/storage.py): every manifest and
live catalog records storage.FORMAT, and a root of any other format, a
postings file its _ranges.json does not record, or a truncated postings
file raises IndexFormatError from every read path — the store, both
sides of the in-process gate, search, live search and the HTTP /search
— instead of returning rows.  Spark reads are typed from the parquet
footer, so a cold read of any table starts no Spark job; and the point
reader's modules catch no broad exception that could turn a read error
into a slower answer."""

import ast
import glob
import json
import os
import re
import shutil

import pytest

from tests.conftest import count_jobs
from websearchengine_spark.operators import topk
from websearchengine_spark.operators.query import search
from websearchengine_spark.operators.topk import wand_topk
from websearchengine_spark.serve import SearchHTTPServer
from websearchengine_spark.sources import storage
from websearchengine_spark.sources.storage import (
    FORMAT,
    RANGES_FILE,
    IndexFormatError,
    IndexStorage,
)
from websearchengine_spark.streaming.ingest import (
    apply_pages_batch,
    read_live_catalog,
    search_live,
)

N_SHARDS = 3
SEG = "delta-000000000"
QUERY = "web search"


@pytest.fixture(scope="module")
def live_root(spark, corpus_pdf, tmp_path_factory):
    """A live root of two batches, the second re-crawling 20 urls of the
    first (so it has a tombstone file)."""
    root = str(tmp_path_factory.mktemp("format") / "live")
    pages = corpus_pdf.sort_values("url").reset_index(drop=True)
    apply_pages_batch(
        spark, spark.createDataFrame(pages.iloc[:150]), 0, root,
        n_shards=N_SHARDS, n_groups=2,
    )
    apply_pages_batch(spark, spark.createDataFrame(pages.iloc[130:]), 1, root)
    assert read_live_catalog(root)["tombstone_files"]
    return root


def test_records_carry_the_format(live_root):
    with open(os.path.join(live_root, "_live.json")) as f:
        assert json.load(f)["format"] == FORMAT
    with open(os.path.join(live_root, SEG, "_manifest.json")) as f:
        assert json.load(f)["format"] == FORMAT


def _set_format(path: str, fmt) -> None:
    with open(path) as f:
        rec = json.load(f)
    rec.pop("format")
    if fmt is not None:
        rec["format"] = fmt
    with open(path, "w") as f:
        json.dump(rec, f)


def _postings_file(root: str) -> str:
    return sorted(glob.glob(f"{root}/postings/group=0/*.parquet"))[0]


def _unrecord(root: str) -> None:
    """Drop one postings data file from its _ranges.json."""
    f = _postings_file(root)
    p = os.path.join(os.path.dirname(f), RANGES_FILE)
    with open(p) as fh:
        rec = json.load(fh)
    del rec["files"][os.path.basename(f)]
    with open(p, "w") as fh:
        json.dump(rec, fh)


def _truncate(root: str) -> None:
    f = _postings_file(root)
    with open(f, "r+b") as fh:
        fh.truncate(os.path.getsize(f) // 2)


# (name, damage to a copy of the live root, the index root the plain
# readers open in that copy, "" for the live root itself)
CASES = [
    ("manifest_without_format", lambda r: _set_format(f"{r}/{SEG}/_manifest.json", None), SEG),
    ("manifest_format_0", lambda r: _set_format(f"{r}/{SEG}/_manifest.json", 0), SEG),
    ("live_without_format", lambda r: _set_format(f"{r}/_live.json", None), ""),
    ("live_format_0", lambda r: _set_format(f"{r}/_live.json", 0), ""),
    ("postings_file_not_recorded", lambda r: _unrecord(f"{r}/{SEG}"), SEG),
    ("postings_file_truncated", lambda r: _truncate(f"{r}/{SEG}"), SEG),
]


@pytest.mark.parametrize("name,damage,index", CASES, ids=[c[0] for c in CASES])
def test_every_read_path_raises_the_format_error(
    spark, live_root, tmp_path, monkeypatch, name, damage, index
):
    root = str(tmp_path / "live")
    shutil.copytree(live_root, root)
    damage(root)
    index_root = os.path.join(root, index)
    reads = {
        "wand_topk_inproc": lambda: wand_topk(spark, index_root, QUERY).collect(),
        "wand_topk_spark": lambda: wand_topk(spark, index_root, QUERY).collect(),
        "search": lambda: search(spark, index_root, QUERY, ranker="bm25").collect(),
        "search_live": lambda: search_live(spark, root, QUERY).collect(),
    }
    if name.startswith(("manifest", "live")):
        with pytest.raises(IndexFormatError, match=re.escape(f"index at {index_root} has")):
            IndexStorage.open(index_root)
    for side, read in reads.items():
        monkeypatch.setattr(
            topk, "INPROC_MAX_POSTINGS", 0 if side.endswith("spark") else 10**12
        )
        with pytest.raises(IndexFormatError):
            read()
    with SearchHTTPServer(spark, root) as srv:
        status, _, body = srv._handle("/search", "query=web+search&ranker=bm25&num=5")
    assert status == 500 and "IndexFormatError" in body


def test_a_root_without_a_record_names_its_format(tmp_path):
    with pytest.raises(IndexFormatError, match="format None"):
        IndexStorage.open(str(tmp_path))


def test_cold_reads_start_no_spark_job(spark, live_root, tmp_path):
    """read_table / read_partitioned of a root the process has never
    read (copied to a fresh path), a tombstone file and an entry input
    each start 0 Spark jobs: the schema comes from the footer."""
    import __spark_entry__ as entry

    root = str(tmp_path / "copy")
    shutil.copytree(os.path.join(live_root, SEG), root)
    store = IndexStorage.open(root)
    tomb = glob.glob(f"{live_root}/tombstones/*/seg=*")[0]
    for read in (
        lambda: store.read_table(spark, "docs"),
        lambda: store.read_partitioned(spark, "postings"),
        lambda: store.read_table(spark, "term_stats"),
        lambda: storage.read_parquet(spark, tomb),
        lambda: entry._t(spark, "/root/testdata/sf0.001", "documents"),
    ):
        df, jobs = count_jobs(spark, read)
        assert jobs == 0 and df.columns


def test_point_reader_modules_catch_no_broad_exception():
    """A broad handler in the read path turns a read error into a slower
    answer that looks correct; these modules let errors raise."""
    from websearchengine_spark.functions import codec
    from websearchengine_spark.streaming import ingest

    broad = {"Exception", "BaseException"}
    for mod in (storage, topk, ingest, codec):
        with open(mod.__file__) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ExceptHandler):
                names = (
                    [e.id for e in node.type.elts if isinstance(e, ast.Name)]
                    if isinstance(node.type, ast.Tuple)
                    else [getattr(node.type, "id", None)]
                )
                assert node.type is not None and not broad & set(names), (
                    f"{mod.__file__}:{node.lineno}"
                )
