"""The serve loop — a thin HTTP boundary binding the query operators to
sockets, completing the reference's ``--mode=serve`` surface
(SearchEngine.startServing, SearchEngine.java:159-181; NanoHTTPD
dispatch, nanohttpd/FileServer.java:82-140; endpoint routing,
QueryHandler.java:244-501).

Endpoints (same paths and CGI arguments as the reference):

  /search        query=&ranker=&num=&format=   -> render.serve_search
  /prf           query=&ranker=&numdocs=&numterms=
                 -> prf.prf_expand, ``term\\tprob\\n`` lines
  /prediction    query=  -> spell.correct_query, one corrected query
                 per line (the reference streams its suggestion list
                 through constructTextOutput the same way)
  /page_summary  num=<docid>  -> query.page_summary, the first <=50
                 position-ordered terms, each followed by a space
                 (QueryHandler.java:365-376 appends ``term + " "``)
  /click_loging  did=&query=&ranker=&action=  -> one CLICK_SCHEMA
                 JSON line appended to the click spool (directly
                 ingestible by streaming/clicklog.py's readers),
                 "Success!" response —
                 the reference's ClickLoggingManager.writeToLog
                 semantics (QueryHandler.java:265-281; [sic] the
                 reference spells the path "click_loging")

Architecture note (SURVEY.md §3.2): the engine's analytics path keeps
the driver as the boundary — this server exists to complete the
reference surface for interactive/live use.  It is a DRIVER-SIDE
frontend on the shared SparkSession (ThreadingHTTPServer).  A warm
bm25 /search under topk.INPROC_MAX_POSTINGS runs no Spark job and makes
no JVM call: the kernel runs in this process and its pyarrow result is
rendered directly.  Larger /search queries, the other rankers and the
other endpoints run small Spark jobs (Spark schedules concurrent jobs
fairly).  It is NOT the 100 TB scale path — that is the batch/driver
contract — so it deliberately stays stdlib-only and tiny.  Every
request logs one JSON record on the ``websearchengine_spark.serve``
logger (see SearchHTTPServer._handle).

Security: responses render through render.py, whose HTML path escapes
query/ranker and text-node's titles (deliberate divergence from the
reference's raw innerHTML — see render.py docstrings).
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

from websearchengine_spark.sources.storage import IndexStorage

_LOG = logging.getLogger("websearchengine_spark.serve")


class SearchHTTPServer:
    """Bind the query operators to a TCP port.

    >>> srv = SearchHTTPServer(spark, index_root, port=0)  # 0 = ephemeral
    >>> port = srv.start()
    >>> # GET http://127.0.0.1:{port}/search?query=web+search&ranker=bm25
    >>> srv.stop()

    ``fullscan_prep``/``docs_fs``/``html_template`` pass through to
    render.serve_search (the fullscan ranker family needs one of the
    first two).  ``click_log_dir``: directory for the click JSON spool;
    /click_loging 404s without it.  ``public_root``: directory of static
    frontend assets (the reference's ``public/`` with the bootstrap UI);
    like the reference's FileServer, an existing file under the root
    wins over API dispatch, ``../`` is forbidden, and a directory
    request serves its index.html.
    """

    def __init__(
        self,
        spark,
        index_root: str,
        host: str = "127.0.0.1",
        port: int = 0,
        fullscan_prep: dict | None = None,
        docs_fs=None,
        html_template: str | None = None,
        click_log_dir: str | None = None,
        public_root: str | None = None,
    ):
        self.spark = spark
        self.index_root = index_root
        self.host = host
        self.port = port
        self.fullscan_prep = fullscan_prep
        self.docs_fs = docs_fs
        self.html_template = html_template
        self.click_log_dir = click_log_dir
        self.public_root = public_root
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._click_lock = threading.Lock()
        # per index GENERATION: the index opened for reading (an
        # IndexStorage: each point-read table's files, key ranges and
        # parsed footers, the open files, and the per-term df memo) and
        # the per-token spell-candidate memo of /prediction.  A warm
        # /search then pays only for its own row groups, and /prediction
        # runs at most its one scoring job.  Any commit to the root's
        # catalog/manifest drops both and closes the store's files
        self._cache_lock = threading.Lock()
        self._cache_gen: tuple | None = None
        self._store: IndexStorage | None = None
        self._spell_cache: dict = {}

    # ---- per-index caches ------------------------------------------------

    def _index_generation(self) -> tuple:
        """Invalidation token: the commit state of the root's metadata —
        the streaming catalog (_live.json, rewritten on every applied
        batch/compaction) and the index manifest (_manifest.json,
        rewritten on finalize).  Stat-only: no Spark work."""
        toks = []
        for name in ("_live.json", "_manifest.json"):
            p = os.path.join(self.index_root, name)
            try:
                st = os.stat(p)
                toks.append((name, st.st_mtime_ns, st.st_size))
            except OSError:
                toks.append((name, None, None))
        return tuple(toks)

    def _caches(self) -> tuple[IndexStorage, dict]:
        """(the opened index, the spell memo) of the current generation.
        A request keeps the store it got even if the generation changes
        under it: close() lets an in-flight read finish."""
        gen = self._index_generation()
        with self._cache_lock:
            if gen != self._cache_gen:
                store = IndexStorage.open(self.index_root)
                if self._store is not None:
                    self._store.close()
                self._store, self._spell_cache = store, {}
                self._cache_gen = gen
            return self._store, self._spell_cache

    # ---- static files ---------------------------------------------------

    def _try_static(self, path: str):
        """Serve ``path`` from public_root if it resolves to a file there.

        Returns (status, ctype, bytes) or None to fall through to API
        dispatch — the reference's FileServer checks its root dirs first
        and hands misses to the QueryHandler
        (nanohttpd/FileServer.java:94-152).  ``../`` anywhere in the uri
        is FORBIDDEN outright (:100-102), and the realpath of the
        resolved file must stay under the root (symlink-safe belt to the
        reference's substring braces).
        """
        import mimetypes
        from urllib.parse import unquote

        # percent-decode BEFORE the traversal checks (the reference's
        # NanoHTTPD decodes URIs; '%2e%2e/' must not slip past, and
        # 'my%20app.js' must resolve to the real file).  unquote, not
        # unquote_plus: '+' is literal in path segments
        path = unquote(path)
        if "../" in path or "..\\" in path:
            return (
                403,
                "text/plain; charset=utf-8",
                b"FORBIDDEN: Won't serve ../ for security reasons.",
            )
        root = os.path.realpath(self.public_root)
        full = os.path.realpath(os.path.join(root, path.lstrip("/")))
        if os.path.isdir(full):
            full = os.path.join(full, "index.html")
        if full != root and not full.startswith(root + os.sep):
            return (
                403,
                "text/plain; charset=utf-8",
                b"FORBIDDEN: Won't serve ../ for security reasons.",
            )
        if not os.path.isfile(full):
            return None
        ctype = mimetypes.guess_type(full)[0] or "application/octet-stream"
        with open(full, "rb") as f:
            return 200, ctype, f.read()

    # ---- request handling ----------------------------------------------

    def _handle(self, path: str, uri_query: str) -> tuple[int, str, str | bytes]:
        """(status, content_type, body) for one GET, and the request's
        record: one JSON line on the ``websearchengine_spark.serve``
        logger (INFO) with the endpoint, status, wall ms and, for
        /search, where the evaluation ran (``inproc``/``spark``) and,
        in process, what it read (``read``: blocks decoded versus the
        query terms' blocks, and per table the files and row groups read
        versus the table's totals)."""
        t0 = time.perf_counter()
        record: dict = {"endpoint": path}
        try:
            status, ctype, body = self._route(path, uri_query, record)
        except ValueError as e:
            # invalid ranker etc. — the reference answers these with an
            # error PAGE, never a dead socket
            status, ctype, body = 200, "text/plain; charset=utf-8", str(e)
        except Exception as e:  # noqa: BLE001 — same contract: any
            # backend failure (missing doc_tokens table, a Spark analysis
            # error) answers 500 with the message instead of dropping the
            # connection.  The detailed message (which can carry local
            # paths and Spark internals) is served only on loopback
            # binds; a non-loopback server answers a generic body and the
            # detail goes to the server-side log
            _LOG.exception("500 on %s", path)
            detail = (
                f"{type(e).__name__}: {e}"
                if self.host in ("127.0.0.1", "::1", "localhost")
                else "internal server error"
            )
            status, ctype, body = 500, "text/plain; charset=utf-8", detail
        record["status"] = status
        record["wall_ms"] = round((time.perf_counter() - t0) * 1000, 3)
        _LOG.info(json.dumps(record))
        return status, ctype, body

    def _route(
        self, path: str, uri_query: str, record: dict
    ) -> tuple[int, str, str | bytes]:
        """Dispatch one GET to its endpoint; /search adds ``ran`` (and,
        in process, ``read``) to ``record``."""
        from websearchengine_spark.operators.query import parse_cgi_args

        if self.public_root is not None:
            static = self._try_static(path)
            if static is not None:
                return static

        if path == "/search":
            from websearchengine_spark.operators.render import serve_search

            args = parse_cgi_args(uri_query, url_decode=True)
            store, _ = self._caches()
            body, record["ran"], read = serve_search(
                self.spark,
                self.index_root,
                uri_query,
                fullscan_prep=self.fullscan_prep,
                docs_fs=self.docs_fs,
                html_template=self.html_template,
                store=store,
            )
            if read:
                record["read"] = read
            ctype = (
                "text/html; charset=utf-8"
                if args["format"] == "html"
                else "text/plain; charset=utf-8"
            )
            return 200, ctype, body

        if path == "/prf":
            from websearchengine_spark.operators.prf import prf_expand

            args = parse_cgi_args(uri_query, url_decode=True)
            if not args["query"]:
                return 200, "text/plain; charset=utf-8", "No query is given!"
            rows = prf_expand(
                self.spark,
                self.index_root,
                args["query"],
                ranker=args["ranker"] if args["ranker"] != "none" else "comprehensive",
                num_docs=args["numdocs"],
                num_terms=args["numterms"],
            ).collect()
            body = "".join(f"{r['term']}\t{r['prob']!r}\n" for r in rows)
            return 200, "text/plain; charset=utf-8", body

        if path == "/prediction":
            from websearchengine_spark.operators.spell import correct_query

            args = parse_cgi_args(uri_query, url_decode=True)
            if not args["query"]:
                return 200, "text/plain; charset=utf-8", "No query is given!"
            _, spell_cache = self._caches()
            rows = correct_query(
                self.spark, self.index_root, args["query"], cache=spell_cache
            ).collect()
            body = "".join(f"{r['corrected']}\n" for r in rows)
            return 200, "text/plain; charset=utf-8", body

        if path == "/page_summary":
            from websearchengine_spark.operators.query import page_summary

            args = parse_cgi_args(uri_query, url_decode=True)
            # the reference reads the docid out of the num= CGI slot
            # (QueryHandler.java:366-367: `int docid = cgiArgs._numResults`)
            rows = page_summary(self.spark, self.index_root, args["num"]).collect()
            body = "".join(r["term"] + " " for r in rows)
            return 200, "text/plain; charset=utf-8", body

        if path == "/click_loging":
            if self.click_log_dir is None:
                return 404, "text/plain; charset=utf-8", "click logging disabled"
            from urllib.parse import unquote_plus

            raw = {}
            for param in uri_query.split("&"):
                kv = param.split("=", 1)
                if len(kv) == 2:
                    # decoded like /search parses its args — logged
                    # queries must key-match the queries actually served
                    raw[kv[0].lower()] = unquote_plus(kv[1])
            if not {"did", "query", "ranker", "action"} <= set(raw):
                return 200, "text/plain; charset=utf-8", ""
            os.makedirs(self.click_log_dir, exist_ok=True)
            try:
                doc_id = int(raw["did"])
            except ValueError:
                doc_id = None
            # one JSON line per click in CLICK_SCHEMA shape — the spool
            # streaming/clicklog.py's readers (start_click_ingest,
            # start_suggestion_counts) ingest directly; appended under a
            # lock, same contract as the reference's synchronized
            # ClickLoggingManager
            # ONE clock read: seconds and millis from the same instant
            # (two reads can straddle a second boundary and log a
            # timestamp ~1s early, inverting per-session click order)
            now = time.time()
            event = {
                "session_id": raw.get("session", "-"),
                "query": raw["query"],
                "doc_id": doc_id,
                "action": raw["action"],
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(now))
                + f".{int(now * 1000) % 1000:03d}Z",
            }
            with self._click_lock:
                with open(
                    os.path.join(self.click_log_dir, "clicks.json"), "a"
                ) as f:
                    f.write(json.dumps(event) + "\n")
            return 200, "text/plain; charset=utf-8", "Success!"

        return 404, "text/plain; charset=utf-8", f"no such endpoint: {path}"

    # ---- lifecycle ------------------------------------------------------

    def start(self) -> int:
        """Start serving on a daemon thread; returns the bound port."""
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                parts = urlsplit(self.path)
                status, ctype, body = outer._handle(parts.path, parts.query or "")
                data = body.encode("utf-8") if isinstance(body, str) else body
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):  # quiet
                pass

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        with self._cache_lock:
            if self._store is not None:
                self._store.close()
            self._store, self._cache_gen = None, None

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()
