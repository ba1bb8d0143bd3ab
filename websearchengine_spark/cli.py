"""Config-file CLI front door — the reference's SearchEngine entry point
(SearchEngine.java:63-219: ``--mode=index|serve|mining`` plus a flat
``key: value`` options file, serve mode also ``--port``) dispatching to
the engine's library surfaces.

Usage (mirrors the reference's invocations)::

    python -m websearchengine_spark --mode=mining --options=conf/engine.conf
    python -m websearchengine_spark --mode=index  --options=conf/engine.conf
    python -m websearchengine_spark --mode=serve  --port=25807 \\
        --options=conf/engine.conf

Options file — same format and required keys as the reference's
``Options`` constructor (SearchEngine.java:63-96: trimmed lines, ``#``
comments, ``key: value`` split on the first colon, every reference key
required)::

    corpus_prefix: /data/pages            # pages parquet dir
                                          # (url, warc_ts, html, text, lang)
    index_prefix:  /data/index/compressed # index root
    log_prefix:    /data/log              # pageview log (mining input);
                                          # serve spools clicks to
                                          # {log_prefix}.clicks/
    indexer_type:  inverted-compressed    # | inverted-occurrence
                                          # | inverted-doconly
    corpus_analyzer_type: pagerank
    log_miner_type: numviews

Engine extras (optional, default sensibly): ``n_shards``, ``n_groups``,
``spell_assist``, ``keep_doc_tokens``, ``block_size``,
``public_root`` (serve-mode static assets; defaults to ``./public`` /
``../public`` when one exists, exactly the reference's root probing —
SearchEngine.java:168-177), ``host``.

Mode semantics:

  mining  — pagerank + numviews over the corpus/log (operators/graph.
            mine_signals), written as parquet to ``{index_prefix}.signals``
            (the reference persists its miner output between runs the
            same way: mining before indexing, CorpusAnalyzer.compute →
            Indexer reads it back).
  index   — build_index over the corpus parquet; picks positions on/off
            from indexer_type (doconly drops positions,
            IndexerInvertedDoconly.java:140-147); joins the mined
            signals when present.
  serve   — SearchHTTPServer on --port with the static frontend and the
            click spool attached.

Errors use the reference's Check contract (SearchEngine.java:102-107):
``Fatal error: <msg>`` on stderr and a non-zero exit.
"""

from __future__ import annotations

import os
import sys

REQUIRED_KEYS = (
    "corpus_prefix",
    "index_prefix",
    "log_prefix",
    "indexer_type",
    "corpus_analyzer_type",
    "log_miner_type",
)

INDEXER_POSITIONS = {
    # reference Indexer.Factory names (SearchEngine.java via
    # Indexer.java:40-55) -> whether posting blocks carry positions
    "inverted-compressed": True,
    "inverted-occurrence": True,
    "inverted-doconly": False,
}

MODES = ("mining", "index", "serve")


def check(condition: bool, msg: str) -> None:
    """The reference's Check: fatal message + non-zero exit."""
    if not condition:
        print(f"Fatal error: {msg}", file=sys.stderr)
        raise SystemExit(255)


def parse_options(path: str) -> dict:
    """Parse the flat ``key: value`` options file (reference format)."""
    opts: dict[str, str] = {}
    try:
        f = open(path)
    except OSError as e:
        check(False, f"Can't read options file {path}: {e.strerror}")
    with f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            key, sep, value = line.partition(":")
            check(bool(sep), f"Wrong option: {line}")
            opts[key.strip()] = value.strip()
    for key in REQUIRED_KEYS:
        check(key in opts, f"Missing option: {key}!")
    return opts


def parse_command_line(argv: list[str]) -> tuple[str, int, dict]:
    """--mode= / --port= / --options= in any order (SearchEngine.java:
    125-148; single-dash forms accepted there too)."""
    mode, port, opts = None, -1, None
    for arg in argv:
        key, sep, value = arg.partition("=")
        check(bool(sep), f"Wrong argument: {arg}")
        key = key.strip()
        value = value.strip()
        if key in ("--mode", "-mode"):
            mode = value.lower() if value.lower() in MODES else None
        elif key in ("--port", "-port"):
            try:
                port = int(value)
            except ValueError:
                check(False, f"Invalid port: {value}")
        elif key in ("--options", "-options"):
            opts = parse_options(value)
    check(mode is not None, "Must provide a valid mode: serve or index!")
    check(
        mode != "serve" or port != -1,
        "Must provide a valid port number in serve mode!",
    )
    check(opts is not None, "Must provide options!")
    return mode, port, opts


def signals_path(opts: dict) -> str:
    return opts["index_prefix"].rstrip("/") + ".signals"


def _read_pages(spark, opts: dict):
    return spark.read.parquet(opts["corpus_prefix"])


def _opt_int(opts: dict, key: str, default: int | None) -> int | None:
    if key not in opts:
        return default
    try:
        return int(opts[key])
    except ValueError:
        check(False, f"Invalid integer for {key}: {opts[key]}")


def _opt_bool(opts: dict, key: str, default: bool) -> bool:
    if key not in opts:
        return default
    return opts[key].strip().lower() in ("1", "true", "yes", "on")


def run_mining(spark, opts: dict) -> str:
    """mining mode: (url, pagerank, numviews) -> {index_prefix}.signals."""
    from websearchengine_spark.operators.graph import mine_signals
    from websearchengine_spark.sources.tsv import load_pageview_log

    check(
        opts["corpus_analyzer_type"] == "pagerank",
        f"CorpusAnalyzer {opts['corpus_analyzer_type']} not found!",
    )
    check(
        opts["log_miner_type"] == "numviews",
        f"LogMiner {opts['log_miner_type']} not found!",
    )
    pages = _read_pages(spark, opts)
    log_df = None
    if os.path.exists(opts["log_prefix"]):
        log_df = load_pageview_log(spark, opts["log_prefix"])
    out = signals_path(opts)
    mine_signals(pages, log_df).write.mode("overwrite").parquet(out)
    return out


def run_index(spark, opts: dict):
    """index mode: build (resumable) at index_prefix; signals joined in
    when a prior mining run left them."""
    from websearchengine_spark.operators.build import build_index

    positions = INDEXER_POSITIONS.get(opts["indexer_type"])
    check(
        positions is not None, f"Indexer {opts['indexer_type']} not found!"
    )
    signals = None
    if os.path.exists(signals_path(opts)):
        signals = spark.read.parquet(signals_path(opts))
    kwargs = {}
    bs = _opt_int(opts, "block_size", None)
    if bs is not None:
        kwargs["block_size"] = bs
    return build_index(
        spark,
        _read_pages(spark, opts),
        opts["index_prefix"],
        n_shards=_opt_int(opts, "n_shards", 8),
        n_groups=_opt_int(opts, "n_groups", 2),
        positions=positions,
        signals=signals,
        spell_assist=_opt_bool(opts, "spell_assist", False),
        keep_doc_tokens=_opt_bool(opts, "keep_doc_tokens", True),
        **kwargs,
    )


def _default_public_root() -> str | None:
    """The reference probes ./public then ../public
    (SearchEngine.java:168-177)."""
    for cand in ("./public", "../public"):
        if os.path.isdir(cand):
            return os.path.abspath(cand)
    return None


def make_server(spark, opts: dict, port: int, host: str | None = None):
    """Construct (NOT start) the serve-mode server — split out so tests
    and embedders can manage its lifecycle."""
    from websearchengine_spark.serve import SearchHTTPServer

    public_root = opts.get("public_root") or _default_public_root()
    return SearchHTTPServer(
        spark,
        opts["index_prefix"],
        host=host or opts.get("host", "127.0.0.1"),
        port=port,
        click_log_dir=opts["log_prefix"].rstrip("/") + ".clicks",
        public_root=public_root,
    )


def run_serve(spark, opts: dict, port: int, host: str | None = None):
    srv = make_server(spark, opts, port, host)
    bound = srv.start()
    print(f"Listening on port: {bound}", flush=True)
    try:
        while True:
            import time

            time.sleep(3600)
    except KeyboardInterrupt:
        srv.stop()


def main(argv: list[str] | None = None) -> None:
    if argv is None:
        argv = sys.argv[1:]
    mode, port, opts = parse_command_line(argv)
    from websearchengine_spark.session import get_spark

    spark = get_spark(f"websearchengine_spark-{mode}")
    if mode == "mining":
        out = run_mining(spark, opts)
        print(f"signals written: {out}", flush=True)
    elif mode == "index":
        run_index(spark, opts)
        print(f"index built: {opts['index_prefix']}", flush=True)
    else:
        run_serve(spark, opts, port)


if __name__ == "__main__":  # pragma: no cover
    main()
