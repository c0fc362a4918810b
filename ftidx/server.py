"""HTTP query-serving daemon over a persisted index.

The reference runs as a long-lived microservice whose liveness is
observable over HTTP (S31 health analog — the app-server status
endpoint the reference's deployment probes) while the indexing loop
runs inside it. ftidx splits those roles: builds/streaming are Spark
jobs, and THIS module is the serving tier — a thin stdlib HTTP front
over a warm :class:`ftidx.index.FtIndex` handle, whose driver-side
term cache gives ~10-20 ms warm top-k without a Spark job per request.

Endpoints (all JSON):

- ``GET /health``        → status, build_id, per-field doc counts
- ``GET /schema``        → Luke analog: per-field vocab/doc/posting
  counts, positions flag, tombstone + delta state
- ``GET /search?q=a+b&field=code.content&k=10`` → BM25 top-k
  (``mode=and`` for conjunctive, ``mm=2`` minimum-should-match,
  ``-term`` tokens exclude)
- ``GET /facet?q=a+b&facet=lang``  → facet counts over matching docs
  (``prefix=`` facet.prefix, ``sort=count|index``, ``offset=``,
  ``missing=1`` appends the NULL-field count)
- ``GET /fuzzy?term=deff&d=1``  → fuzzy vocabulary expansion
- ``qf=fieldA^2,fieldB`` on /search → multi-field weighted BM25
  (``tie=0.1`` switches to dismax: best field + tie × the rest);
  ``pf=2.0`` exact-phrase boost (``ps=N`` phrase slop), ``bq=term^1.5`` boost queries
- ``GET /query?q=...`` → full Lucene/Solr query-string syntax
  (``+must -not field:term "a b"~slop term^boost``) via ftidx.qparse
- ``GET /phrase?q=a+b&k=10``  → exact-phrase top-k (positional index)
- ``slop=N`` on /phrase → unordered proximity ("a b"~N) instead of exact
- ``group=lang`` on /search → field collapse (best docs per group)
- ``sort=path asc&start=10`` on /search → metadata sort + offset paging
- ``sort=path asc&cursor=*`` on /search → cursorMark keyset paging
  (response carries ``next_cursor``; pass it back for the next page)
- ``bf=0.1*ln(1+length(path))`` on /search → additive function boost
  (Solr bf=; expression over stored metadata columns);
  ``boost=100/(100+length(path))`` → multiplicative (edismax boost=)
- ``fq={!frange l=0 u=100}func`` on /search → function range filter
  (Solr FunctionRangeQParser; ``incl``/``incu`` bound flags, ``inch`` kept as a legacy alias); any
  other ``fq=`` string filters as a metadata predicate (topk_where)
- ``GET /explain?q=a+b&id=123`` → per-term BM25 score decomposition
  (Solr debugQuery explain)
- ``excludeIds=5,9`` on /search → elevation excludes (docs dropped;
  ``markExcludes=true`` keeps them flagged ``excluded`` instead)
- ``elevate=3,17`` on /search → query elevation: those ids pinned to
  the top in order, organic ranking fills (Solr QueryElevationComponent)
- ``GET /terms?prefix=sp&mincount=2&limit=20&sort=count`` → vocabulary
  enumeration (Solr TermsComponent)
- ``GET /join?inner=deprecated&q=scan&on=repo`` → join query (Solr
  {!join}: outer matches ranked, restricted to join keys with an
  inner match)
- ``syn=merge:join|combine;window:frame`` on /search → query-time
  synonym groups, each scored as one merged pseudo-term
- ``GET /facet_query?fq=py:python;js:javascript+node`` → facet.query
  match counts per labeled subquery
- ``GET /export?q=a&sort=path asc&fl=doc_id,path`` → Solr
  ExportHandler: the FULL sorted match set, streamed row-by-row from
  ``toLocalIterator`` (close-delimited JSON; never materialized
  driver-side); sort= and fl= required, exactly Solr's contract
- ``POST /knn``          → Solr 9 ``{!knn}`` dense-vector top-k over
  the attached DenseVectorField-analog table (``{"vector": […],
  "k": 10, "q": "optional pre-filter terms"}``)
- ``POST /ltr``          → Solr ``rq={!ltr}`` rescoring: ``{"q":
  "terms", "model": <model-store JSON — LinearModel or
  MultipleAdditiveTreesModel>, "k": 10, "reRankDocs": 100}``
- ``GET /stats``         → field statistics (n_docs, avgdl)
- ``GET /pivot?q=a&pivot=lang,repo`` → hierarchical facet.pivot counts
- ``GET /facet_stats?q=a&facet=lang`` → per-bucket doclen stats
  (Solr stats.field + stats.facet)
- ``GET /facet_range?q=a&col=n&start=0&end=100&gap=10`` → range facets
- ``GET /facet_range_date?q=a&col=modified&start=…&end=…&gap=%2B1MONTH``
  → date range facets with Solr date-math gaps (calendar-exact
  MONTH/YEAR steps incl. Java's month-end clamp)
- ``GET /spellcheck?q=teh+quik`` → corrections + collated query
- ``GET /get?id=123``    → real-time-get of one doc's metadata row
- ``POST /refresh``      → re-open the handle after maintenance ops
- ``POST /compact``      → fold streamed deltas + tombstones into the
  base index and refresh (Solr optimize/commit analog)
- ``POST /select``       → Solr JSON Request API: query string +
  non-scoring filters (filterCache-backed) + paging + stored fields +
  terms facets in one JSON body
- ``GET /metrics``       → admin/metrics: term-cache hit-rate/bytes,
  filterCache entries, last build's ledger summary
- ``GET /stream?action=list|stop|kill&id=…`` → daemon admin over the
  server-lifetime daemon map (stream-expression ``daemon(id=…,
  runInterval=…, expr)`` registered via POST /stream)
- ``GET /replication?command=details|backup`` → ReplicationHandler:
  served-generation info / consistent point-in-time snapshot into
  ``location=``/``name=`` (restore stays offline: new generation +
  alias publish)
- ``GET /mlt?id=`` / ``GET /tv?id=`` → MoreLikeThis / term vectors
- ``GET /wildcard?pattern=pre*`` → wildcard expansion;
  ``GET /cluster?q=...`` → result clustering (Carrot2 analog);
  ``GET /group_query?gq=label:terms;...`` → per-label rankings
- ``hl=true`` (or ``hl=a,b``) on /search → highlighting: best-window
  snippet fragments per hit with term occurrences tagged
  (``hl.size=``, ``hl.frags=``, ``hl.tag=mark``; needs an index built
  with ``store_content=True``; response key ``highlighting``)

Scale shape: one server process serves one index replica; the index
directory is immutable between maintenance ops, so replicas scale
horizontally behind any balancer with no coordination. Within a
replica, the hot query endpoints run CONCURRENTLY under a shared
readers-writer lock (FtIndex's caches are internally locked; Spark
schedules concurrent jobs from multiple threads), while mutating
endpoints (/update /compact /refresh /tag) and stream-daemon
iterations take it exclusively — see ``_RWLock``.  Replicas remain
the cross-machine QPS path; threads are now the in-machine one.

Run: ``python -m ftidx.server /path/to/index --port 8080``
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

from ftidx.schema import read_table


class _RWLock:
    """Readers-writer lock for the serving tier.

    ``with lock:`` (the historical interface — also handed to stream
    daemons as ``run_lock``) stays EXCLUSIVE: mutating endpoints
    (/update /compact /refresh /tag), daemon iterations, and the long
    tail of handlers keep their one-at-a-time semantics unchanged.
    ``with lock.shared():`` lets the hot query endpoints (/search,
    /phrase, /query, /get, /select, /knn, /ltr, /mlt, /explain, /tv,
    /health, /metrics, /stats) run CONCURRENTLY — FtIndex's caches are
    internally locked (``_cache_lock``) and Spark accepts concurrent
    jobs from multiple threads, so reads need no mutual exclusion
    among themselves (the concurrent-serving bench's finding: a single
    global lock made N clients exactly as slow as 1 client × N).
    Write-preferring: a waiting writer blocks NEW readers, so
    maintenance can't be starved by a query stream."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    def __enter__(self) -> "_RWLock":
        with self._cond:
            self._writers_waiting += 1
            try:
                self._cond.wait_for(
                    lambda: not self._writer and self._readers == 0)
            finally:
                self._writers_waiting -= 1
            self._writer = True
        return self

    def __exit__(self, *exc) -> bool:
        with self._cond:
            self._writer = False
            self._cond.notify_all()
        return False

    @contextmanager
    def shared(self):
        with self._cond:
            self._cond.wait_for(
                lambda: not self._writer and not self._writers_waiting)
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if not self._readers:
                    self._cond.notify_all()


def _parse_labeled_spec(spec: str) -> dict[str, list[str]]:
    """Parse ``label:terms;label2:terms`` (facet.query / group.query
    HTTP specs). A label-less or duplicate segment raises ValueError —
    the same caller-error policy as malformed ltr= segments — instead
    of silently creating an empty or overwritten group."""
    queries: dict[str, list[str]] = {}
    for part in spec.split(";"):
        if not part.strip():
            continue
        label, sep, ts = part.partition(":")
        label = label.strip()  # 'a:x; a :y' is a duplicate, and padded
        if not sep or not label:  # labels must not leak into responses
            raise ValueError(f"segment {part!r} needs label:terms")
        if label in queries:
            raise ValueError(f"duplicate label {label!r}")
        queries[label] = ts.split()
    return queries


def _apply_add(idx, docs) -> int:
    """POST /update "add" list → :func:`ftidx.maintenance.upsert_docs`.

    Each doc must carry the full source row (repo, path, commit, lang,
    content; deleted/modified optional — Solr likewise requires every
    field on an add, only ATOMIC requests may be partial). ``modified``
    accepts an ISO-8601 string."""
    from datetime import datetime

    from ftidx.maintenance import upsert_docs
    from ftidx.schema import SOURCE_SCHEMA

    if not isinstance(docs, list) or not docs:
        raise ValueError("add must be a non-empty list of docs")
    rows = []
    for d in docs:
        if not isinstance(d, dict):
            raise ValueError("each add doc must be a JSON object")
        missing = [k for k in ("repo", "path", "commit", "lang", "content")
                   if k not in d]
        if missing:
            raise ValueError(f"add doc missing field(s) {missing}")
        mod = d.get("modified")
        if isinstance(mod, str):
            mod = datetime.fromisoformat(mod)
        rows.append((str(d["repo"]), str(d["path"]), str(d["commit"]),
                     str(d["lang"]),
                     None if d["content"] is None else str(d["content"]),
                     bool(d.get("deleted", False)), mod))
    partial = idx.spark.createDataFrame(rows, SOURCE_SCHEMA)
    upsert_docs(idx.spark, str(idx.path), partial)
    return len(rows)


def _make_handler(idx, lock: "_RWLock", daemons: dict | None = None):
    daemons = {} if daemons is None else daemons
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet; serving logs belong to WSGI tiers
            pass

        def _json(self, code: int, payload: dict) -> None:
            # Solr responseHeader analog: every response carries QTime
            # (ms since request entry) — the per-request latency a
            # serving dashboard scrapes
            t0 = getattr(self, "_t0", None)
            if t0 is not None and "QTime" not in payload:
                payload = {"QTime": int((time.monotonic() - t0) * 1000),
                           **payload}
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            self._t0 = time.monotonic()
            u = urlparse(self.path)
            qs = parse_qs(u.query)
            try:
                if u.path == "/health":
                    with lock.shared():
                        fields = {f: n for f, (n, _) in idx.stats.items()}
                    self._json(200, {
                        "status": "ok",
                        "build_id": idx.manifest.get("build_id"),
                        "n_buckets": idx.manifest.get("n_buckets"),
                        "fields": fields,
                    })
                elif u.path == "/schema":
                    with lock:
                        self._json(200, idx.schema_info())
                elif u.path == "/metrics":
                    # Solr admin/metrics: cache effectiveness, tomb-
                    # stone pressure, last build's ledger summary
                    with lock.shared():
                        self._json(200, idx.metrics())
                elif u.path == "/stats":
                    with lock.shared():
                        stats = {f: {"n_docs": n, "avgdl": a}
                                 for f, (n, a) in idx.stats.items()}
                    self._json(200, stats)
                elif u.path == "/replication":
                    # Solr ReplicationHandler: command=details reports
                    # the served generation (build_id, file count,
                    # index bytes); command=backup snapshots a
                    # consistent point-in-time image into
                    # location/name (maintenance.snapshot — refused
                    # with 409 if a rewrite/append lands mid-copy,
                    # Solr's retriable backup failure). restore is
                    # deliberately NOT served: this engine restores
                    # into a NEW generation published over an alias
                    # (maintenance.restore + ftidx.alias.publish) —
                    # a served dir is never mutated under readers.
                    cmd = qs.get("command", [""])[0]
                    if cmd == "details":
                        files = n_bytes = 0
                        for p in idx.path.rglob("*"):
                            if p.is_file():
                                files += 1
                                n_bytes += p.stat().st_size
                        with lock:
                            bid = idx.manifest.get("build_id")
                        self._json(200, {
                            "details": {"build_id": bid,
                                        "indexFileCount": files,
                                        "indexSize": n_bytes}})
                    elif cmd == "backup":
                        loc = qs.get("location", [""])[0]
                        name = qs.get("name", ["snapshot"])[0]
                        if not loc:
                            self._json(400, {"error":
                                             "backup needs location="})
                            return
                        from ftidx.maintenance import snapshot

                        dest = str(Path(loc) / name)
                        try:
                            with lock:
                                out = snapshot(str(idx.path), dest)
                        except RuntimeError as e:
                            self._json(409, {"error": str(e)})
                            return
                        self._json(200, {"status": "OK",
                                         "snapshot": out,
                                         "location": dest})
                    elif cmd == "restore":
                        self._json(400, {"error":
                                         "restore is an offline op here: "
                                         "maintenance.restore creates a "
                                         "NEW generation; publish it via "
                                         "ftidx.alias — a served dir is "
                                         "never mutated under readers"})
                    else:
                        self._json(400, {"error":
                                         "command must be details|backup"})
                elif u.path == "/suggest":
                    prefix = qs.get("prefix", [""])[0]
                    if not prefix:
                        self._json(400, {"error": "missing prefix"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    infix = qs.get("infix", [""])[0] in ("true", "1")
                    with lock:
                        out = idx.suggest_terms(prefix, field=field,
                                                infix=infix)
                    self._json(200, {"terms": [
                        {"term": t, "df": df} for t, df in out
                    ]})
                elif u.path == "/join":
                    # Solr {!join from=f to=f}inner + outer q: rank
                    # outer matches whose join key has an inner match
                    inner = qs.get("inner", [""])[0].split()
                    outer = qs.get("q", [""])[0].split()
                    if not inner or not outer:
                        self._json(400, {"error": "need inner and q"})
                        return
                    on = qs.get("on", ["repo"])[0]
                    k = int(qs.get("k", ["10"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        rows = idx.join_topk(inner, outer, k=k,
                                             join_col=on, field=field).collect()
                    self._json(200, {"docs": [
                        {"doc_id": r["doc_id"], on: r[on],
                         "score": r["score"]} for r in rows
                    ]})
                elif u.path == "/edismax":
                    # the composed edismax request: qf + tie + mm +
                    # bq + bf + boost in ONE query (each param alone
                    # is also served by the dedicated /search params)
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    qf_spec = qs.get("qf", [""])[0]
                    qf = None
                    if qf_spec:
                        qf = {}
                        for part in qf_spec.split(","):
                            f_name, _, w = part.partition("^")
                            qf[f_name.strip()] = float(w or 1.0)
                    bq_spec = qs.get("bq", [""])[0]
                    bq = None
                    if bq_spec:
                        bq = {}
                        for part in bq_spec.split():
                            t, _, w = part.partition("^")
                            bq[t] = float(w or 1.0)
                    k = int(qs.get("k", ["10"])[0])
                    tie = float(qs.get("tie", ["0.0"])[0])
                    mm = int(qs.get("mm", ["0"])[0])
                    bf = qs.get("bf", [""])[0] or None
                    boost = qs.get("boost", [""])[0] or None
                    with lock:
                        rows = idx.edismax(
                            terms, qf=qf, k=k, tie=tie, mm=mm,
                            bq=bq, bf=bf, boost=boost).collect()
                    self._json(200, {"docs": [
                        {"doc_id": r["doc_id"], "score": r["score"],
                         "final": r["final"]} for r in rows
                    ]})
                elif u.path == "/export":
                    # Solr ExportHandler: the FULL sorted match set,
                    # streamed — close-delimited JSON written row by
                    # row from toLocalIterator, so the result never
                    # materializes driver-side; numFound follows the
                    # docs array (counted while streaming — no second
                    # job). sort= and fl= are required, as in Solr.
                    terms = qs.get("q", [""])[0].split()
                    sort = qs.get("sort", [""])[0]
                    fl = [c.strip() for c in qs.get("fl", [""])[0]
                          .split(",") if c.strip()]
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        # plan + first-partition fetch under the lock;
                        # a concurrent /compact that deletes delta
                        # files can fail an in-flight stream (the
                        # client sees a truncated body) — the offline
                        # export path (FtIndex.export(...).write) is
                        # the consistency-critical surface
                        try:
                            df = idx.export(terms, sort, fl,
                                            field=field)
                        except ValueError as e:
                            self._json(400, {"error": str(e)})
                            return
                        it = df.toLocalIterator()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    try:
                        self.wfile.write(b'{"response": {"docs": [')
                        n = 0
                        for row in it:
                            # default=str: timestamps/dates in
                            # metadata columns serialize as ISO repr
                            piece = json.dumps(row.asDict(),
                                               default=str)
                            self.wfile.write(
                                (("," if n else "") + piece).encode())
                            n += 1
                        self.wfile.write(
                            ('], "numFound": %d}}' % n).encode())
                    except Exception:
                        # the 200 status line is already on the wire —
                        # a second response would interleave into the
                        # body; close instead, so the client sees a
                        # clean truncation (unterminated JSON = error)
                        self.close_connection = True
                        return
                elif u.path == "/facet_query":
                    # Solr facet.query: counts per labeled subquery,
                    # fq=label:term1+term2;label2:...
                    spec = qs.get("fq", [""])[0]
                    if not spec.strip():
                        self._json(400, {"error": "missing fq"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    try:
                        queries = _parse_labeled_spec(spec)
                    except ValueError as e:
                        self._json(400, {"error": str(e)})
                        return
                    with lock:
                        out = idx.facet_queries(queries, field=field)
                    self._json(200, {"counts": out})
                elif u.path == "/terms":
                    # Solr TermsComponent: vocabulary enumeration with
                    # prefix/regex/mincount/limit/sort
                    field = qs.get("field", ["code.content"])[0]
                    prefix = qs.get("prefix", [None])[0]
                    regex = qs.get("regex", [None])[0]
                    mincount = int(qs.get("mincount", ["1"])[0])
                    limit = int(qs.get("limit", ["10"])[0])
                    sort = qs.get("sort", ["count"])[0]
                    with lock:
                        out = idx.terms_enum(
                            field=field, prefix=prefix, regex=regex,
                            mincount=mincount, limit=limit, sort=sort)
                    self._json(200, {"terms": [
                        {"term": t, "df": df} for t, df in out
                    ]})
                elif u.path == "/fuzzy":
                    term = qs.get("term", [""])[0]
                    if not term:
                        self._json(400, {"error": "missing term"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    d = int(qs.get("d", ["1"])[0])
                    with lock:
                        out = idx.fuzzy_terms(term, field=field, max_dist=d)
                    self._json(200, {"terms": [
                        {"term": t, "df": df, "dist": dist}
                        for t, df, dist in out
                    ]})
                elif u.path == "/phonetic":
                    term = qs.get("term", [""])[0]
                    if not term:
                        self._json(400, {"error": "missing term"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        out = idx.phonetic_terms(term, field=field)
                    self._json(200, {"terms": [
                        {"term": t, "df": df} for t, df in out
                    ]})
                elif u.path == "/stem":
                    # stemming expansion introspection (mirror of
                    # /phonetic): which vocabulary terms share the
                    # query term's Porter (or algo=s Harman) stem
                    term = qs.get("term", [""])[0]
                    if not term:
                        self._json(400, {"error": "missing term"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    algo = qs.get("algo", ["porter"])[0]
                    if algo not in ("porter", "s"):
                        self._json(400, {"error": f"unknown algo {algo!r}"})
                        return
                    with lock:
                        out = idx.stem_terms(term, field=field, algo=algo)
                    self._json(200, {"terms": [
                        {"term": t, "df": df} for t, df in out
                    ]})
                elif u.path == "/wildcard":
                    # Lucene WildcardQuery expansion introspection
                    # (mirror of /fuzzy): which vocabulary terms does
                    # pre* / t?rm match, df-ranked under the cap
                    pattern = qs.get("pattern", [""])[0]
                    if not pattern:
                        self._json(400, {"error": "missing pattern"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    limit = int(qs.get("limit", ["50"])[0])
                    with lock:
                        out = idx.wildcard_terms(pattern, field=field,
                                                 limit=limit)
                    self._json(200, {"terms": [
                        {"term": t, "df": df} for t, df in out
                    ]})
                elif u.path == "/facet_range":
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    col = qs.get("col", [""])[0]
                    if not col:
                        self._json(400, {"error": "missing col"})
                        return
                    lo = float(qs.get("start", ["0"])[0])
                    hi = float(qs.get("end", [str(1 << 30)])[0])
                    gap = float(qs.get("gap", ["100"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        rows = idx.facet_range(
                            terms, facet=col, start=lo, end=hi, gap=gap,
                            field=field).collect()
                        other = (idx.facet_range_other(
                                     terms, col, lo, hi, field=field)
                                 if qs.get("other", [""])[0] == "all"
                                 else None)
                    out = {"buckets": [
                        {"start": r["bucket_start"], "n_docs": r["n_docs"]}
                        for r in rows
                    ]}
                    if other is not None:
                        out["other"] = other
                    self._json(200, out)
                elif u.path == "/facet_range_date":
                    # Solr facet.range over a date field with date-
                    # math gaps (+7HOUR, +1MONTH); bucket starts
                    # returned as ISO strings
                    terms = qs.get("q", [""])[0].split()
                    start = qs.get("start", [""])[0]
                    end = qs.get("end", [""])[0]
                    gap = qs.get("gap", [""])[0]
                    if not terms or not start or not end or not gap:
                        self._json(400, {"error":
                                         "need q, start, end, gap"})
                        return
                    col = qs.get("col", ["modified"])[0]
                    field = qs.get("field", ["code.content"])[0]
                    try:
                        with lock:
                            rows = idx.facet_range_date(
                                terms, start, end, gap, facet=col,
                                field=field).collect()
                            other = (idx.facet_range_other(
                                         terms, col, start, end,
                                         date=True, field=field)
                                     if qs.get("other", [""])[0] == "all"
                                     else None)
                    except ValueError as e:
                        self._json(400, {"error": str(e)})
                        return
                    out = {"buckets": [
                        {"start": r["bucket_start"].strftime(
                            "%Y-%m-%dT%H:%M:%SZ"),
                         "n_docs": r["n_docs"]} for r in rows
                    ]}
                    if other is not None:
                        out["other"] = other
                    self._json(200, out)
                elif u.path == "/facet_interval":
                    # Solr facet.interval: set=label:lo:hi;label2:lo:hi
                    terms = qs.get("q", [""])[0].split()
                    spec = qs.get("set", [""])[0]
                    if not terms or not spec.strip():
                        self._json(400, {"error": "need q and set"})
                        return
                    col = qs.get("col", [""])[0]
                    if not col:
                        self._json(400, {"error": "missing col"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    ivs = []
                    for part in spec.split(";"):
                        if not part.strip():
                            continue
                        label, lo, hi = part.split(":")
                        ivs.append((float(lo), float(hi), label))
                    with lock:
                        rows = idx.facet_interval(
                            terms, ivs, facet=col, field=field).collect()
                    self._json(200, {"intervals": [
                        {"label": r["label"], "n_docs": r["n_docs"]}
                        for r in rows
                    ]})
                elif u.path == "/facet_nested":
                    # JSON Facet API nested terms facet
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    facet = qs.get("facet", ["lang"])[0]
                    sub = qs.get("sub", ["repo"])[0]
                    kb = int(qs.get("k", ["10"])[0])
                    ks = int(qs.get("ksub", ["2"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        rows = idx.facet_nested(
                            terms, facet=facet, sub_facet=sub,
                            k_buckets=kb, k_sub=ks, field=field).collect()
                    self._json(200, {"buckets": [
                        {"value": r["value"], "n_docs": r["n_docs"],
                         "sub_rank": r["sub_rank"],
                         "sub_value": r["sub_value"], "sub_n": r["sub_n"]}
                        for r in rows
                    ]})
                elif u.path == "/facet":
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    facet = qs.get("facet", ["lang"])[0]
                    field = qs.get("field", ["code.content"])[0]
                    k = int(qs.get("k", ["20"])[0])
                    prefix = qs.get("prefix", [None])[0]
                    sort = qs.get("sort", ["count"])[0]
                    offset = int(qs.get("offset", ["0"])[0])
                    missing = qs.get("missing", ["0"])[0] in ("1", "true")
                    with lock:
                        rows = idx.facet_counts(
                            terms, facet=facet, field=field, k_facets=k,
                            prefix=prefix, sort=sort, offset=offset,
                            missing=missing,
                        ).collect()
                    body = {"facets": [
                        {"value": r["value"], "n_docs": r["n_docs"]}
                        for r in rows if r["value"] is not None
                    ]}
                    if missing:
                        body["missing"] = next(
                            (r["n_docs"] for r in rows if r["value"] is None), 0)
                    self._json(200, body)
                elif u.path == "/spellcheck":
                    q = qs.get("q", [""])[0].split()
                    if not q:
                        self._json(400, {"error": "missing q"})
                        return
                    d = int(qs.get("d", ["2"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    wb = qs.get("wordbreak", [""])[0] in ("true", "1")
                    with lock:
                        res = idx.spellcheck(q, field=field, max_dist=d)
                        wbres = idx.spellcheck_wordbreak(q, field=field) \
                            if wb else None
                    out = {
                        "collation": res["collation"],
                        "changed": res["changed"],
                        "terms": [
                            {"term": t, "correction": c, "df": df,
                             "dist": dist}
                            for t, c, df, dist in res["terms"]
                        ]}
                    if wbres is not None:
                        # WordBreakSolrSpellChecker merge: split/join
                        # suggestions alongside the fuzzy corrections
                        out["breaks"] = [
                            {"term": t, "suggestion": f"{l} {r}",
                             "df_left": dl, "df_right": dr}
                            for t, l, r, dl, dr in wbres["breaks"]]
                        out["combines"] = [
                            {"terms": [a, b], "suggestion": j, "df": df}
                            for a, b, j, df in wbres["combines"]]
                    self._json(200, out)
                elif u.path == "/get":
                    try:
                        doc_id = int(qs.get("id", [""])[0])
                    except ValueError:
                        self._json(400, {"error": "missing/invalid id"})
                        return
                    with lock.shared():
                        row = idx.get_doc(doc_id)
                    if row is None:
                        self._json(404, {"error": "not found",
                                         "doc_id": doc_id})
                    else:
                        row = {k: (v.isoformat() if hasattr(v, "isoformat")
                                   else v) for k, v in row.items()}
                        self._json(200, {"doc": row})
                elif u.path == "/pivot":
                    # Solr facet.pivot: hierarchical two-level counts
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    fields = qs.get("pivot", ["lang,repo"])[0].split(",")
                    if len(fields) != 2:
                        self._json(400, {"error": "pivot needs two fields"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    k = int(qs.get("k", ["50"])[0])
                    with lock:
                        rows = idx.facet_pivot(
                            terms, fields=tuple(fields), field=field,
                            k_facets=k).collect()
                    self._json(200, {"pivot": [
                        {"value1": r["value1"], "value2": r["value2"],
                         "n_docs": r["n_docs"]}
                        for r in rows
                    ]})
                elif u.path == "/facet_stats":
                    # Solr stats.field + stats.facet: per-bucket
                    # count/sum/avg/min/max of doc token length
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    facet = qs.get("facet", ["lang"])[0]
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        rows = idx.facet_metric_stats(
                            terms, facet=facet, field=field).collect()
                    self._json(200, {"stats": [
                        {"value": r["value"], "n_docs": r["n_docs"],
                         "sum_len": r["sum_len"], "avg_len": r["avg_len"],
                         "min_len": r["min_len"], "max_len": r["max_len"]}
                        for r in rows
                    ]})
                elif u.path == "/group_query":
                    # Solr group.query: one ranked list per labeled
                    # subquery, gq=label:terms;label2:terms — ONE
                    # postings fetch for the union of all terms
                    spec = qs.get("gq", [""])[0]
                    if not spec.strip():
                        self._json(400, {"error": "missing gq"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    k = int(qs.get("k", ["10"])[0])
                    try:
                        queries = _parse_labeled_spec(spec)
                    except ValueError as e:
                        self._json(400, {"error": str(e)})
                        return
                    with lock:
                        out = idx.topk_queries(queries, k=k, field=field)
                    self._json(200, {"groups": {
                        la: [{"doc_id": d, "score": s} for d, s in hits]
                        for la, hits in out.items()
                    }})
                elif u.path == "/cluster":
                    # Solr clustering component (Carrot2): the hit
                    # page grouped by dominant distinguishing term
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    k = int(qs.get("k", ["50"])[0])
                    min_df = int(qs.get("min_df", ["2"])[0])
                    stop = float(qs.get("stop_df_frac", ["0.5"])[0])
                    with lock:
                        out = idx.cluster_topk(terms, k=k, field=field,
                                               min_df=min_df,
                                               stop_df_frac=stop)
                    self._json(200, {"clusters": out})
                elif u.path == "/analyze":
                    # Solr /analysis/field analog: show exactly how a
                    # piece of content tokenizes into fields/terms —
                    # the pure spec function (tokenize_doc), no Spark,
                    # no index touched; the debug surface for "why
                    # doesn't my query match this doc"
                    from ftidx.tokenize import tokenize_doc

                    text = qs.get("text", [""])[0]
                    lang = qs.get("lang", ["python"])[0]
                    repo = qs.get("repo", ["r"])[0]
                    fpath = qs.get("path", ["p"])[0]
                    out = {}
                    if qs.get("fold", [""])[0] in ("true", "1"):
                        # ASCIIFoldingFilterFactory stage: fold BEFORE
                        # tokenization (the tokenizer's [a-z0-9_] char
                        # class drops unfolded accents) — the analysis
                        # screen shows the folded text alongside
                        from ftidx.fold import fold_py

                        text = fold_py(text)
                        out["folded"] = text
                    out["fields"] = tokenize_doc(text, lang, repo, fpath)
                    self._json(200, out)
                elif u.path == "/child":
                    # Solr {!child} block join: all member docs of
                    # the matching parents, each carrying its
                    # parent's aggregate score
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    on = qs.get("on", ["repo"])[0]
                    mode = qs.get("score", ["max"])[0]
                    k = int(qs.get("k", ["20"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        rows = idx.child_topk(
                            terms, parent_col=on, score_mode=mode,
                            k=k, field=field).collect()
                    self._json(200, {"docs": [
                        {"doc_id": r["doc_id"], "parent": r["parent"],
                         "n_hits": r["n_hits"], "score": r["score"]}
                        for r in rows
                    ]})
                elif u.path == "/parent":
                    # Solr {!parent} block join: rank parent entities
                    # by an aggregate (score=max|total|avg|min) of
                    # their matching children's BM25 scores
                    terms = qs.get("q", [""])[0].split()
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    on = qs.get("on", ["repo"])[0]
                    mode = qs.get("score", ["max"])[0]
                    k = int(qs.get("k", ["10"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    with lock:
                        rows = idx.parent_topk(
                            terms, parent_col=on, score_mode=mode,
                            k=k, field=field).collect()
                    self._json(200, {"parents": [
                        {"parent": r["parent"],
                         "n_children": r["n_children"],
                         "score": r["score"]} for r in rows
                    ]})
                elif u.path == "/query":
                    # full Lucene/Solr query-string syntax (qparse):
                    # +must -not field:term "a b"~slop term^boost
                    q = qs.get("q", [""])[0]
                    if not q.strip():
                        self._json(400, {"error": "missing q"})
                        return
                    k = int(qs.get("k", ["10"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    qmm = qs.get("mm", [""])[0]
                    with lock.shared():
                        hits = idx.query_string(
                            q, k=k, field=field,
                            min_match=int(qmm) if qmm else None)
                    self._json(200, {"hits": [
                        {"doc_id": d, "score": s} for d, s in hits
                    ]})
                elif u.path == "/explain":
                    terms = qs.get("q", [""])[0].split()
                    did = qs.get("id", [""])[0]
                    if not terms or not did:
                        self._json(400, {"error": "need q and id"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    with lock.shared():
                        out = idx.explain(terms, int(did), field=field)
                    self._json(200, out)
                elif u.path == "/mlt":
                    # Solr MoreLikeThisHandler: docs similar to id=
                    did = qs.get("id", [""])[0]
                    if not did:
                        self._json(400, {"error": "missing id"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    k = int(qs.get("k", ["10"])[0])
                    mqt = int(qs.get("maxqt", ["12"])[0])
                    with lock.shared():
                        out = idx.more_like_this(int(did), k=k,
                                                 field=field,
                                                 max_query_terms=mqt)
                    self._json(200, {"hits": [
                        {"doc_id": d, "score": s} for d, s in out]})
                elif u.path == "/tv":
                    # Solr termvectors component: the doc's terms + tf
                    did = qs.get("id", [""])[0]
                    if not did:
                        self._json(400, {"error": "missing id"})
                        return
                    field = qs.get("field", ["code.content"])[0]
                    top_m = int(qs.get("top", ["50"])[0])
                    with lock.shared():
                        out = idx.doc_term_vector(int(did), field=field,
                                                  top_m=top_m)
                    self._json(200, {"terms": [
                        {"term": t, "tf": tf} for t, tf in out]})
                elif u.path in ("/search", "/phrase"):
                    raw = qs.get("q", [""])[0].split()
                    # Solr-ish boolean surface: '-term' excludes,
                    # mode=and requires every (non-excluded) term
                    exclude = [t[1:] for t in raw if t.startswith("-") and t[1:]]
                    terms = [t.lstrip("+") for t in raw if not t.startswith("-")]
                    if not terms:
                        self._json(400, {"error": "missing q"})
                        return
                    k = int(qs.get("k", ["10"])[0])
                    field = qs.get("field", ["code.content"])[0]
                    mode = qs.get("mode", ["or"])[0]
                    # qf=fieldA^2,fieldB^0.5 → multi-field weighted BM25
                    qf = qs.get("qf", [""])[0]
                    weights = None
                    if qf:
                        weights = {}
                        for part in qf.split(","):
                            f_name, _, boost = part.partition("^")
                            weights[f_name.strip()] = float(boost or 1.0)
                    mm = qs.get("mm", [""])[0]
                    tie = qs.get("tie", [""])[0]
                    pf = qs.get("pf", [""])[0]
                    bq = qs.get("bq", [""])[0]
                    slop = int(qs.get("slop", ["0"])[0])
                    group = qs.get("group", [""])[0]
                    sort = qs.get("sort", [""])[0]
                    bf = qs.get("bf", [""])[0]
                    boost = qs.get("boost", [""])[0]
                    elevate = qs.get("elevate", [""])[0]
                    syn = qs.get("syn", [""])[0]
                    rq = qs.get("rq", [""])[0]
                    with lock.shared():
                        if u.path != "/search":
                            if slop > 0:
                                hits = idx.near_topk(terms, window=slop,
                                                     k=k, field=field)
                            else:
                                hits = idx.phrase_topk(terms, k=k, field=field)
                        elif group:
                            if qs.get("expand", [""])[0] == "true":
                                # Solr collapse + ExpandComponent:
                                # collapsed hit page + per-group
                                # expansion in the same response
                                erows = int(qs.get(
                                    "expand.rows", ["2"])[0])
                                rows = idx.expand_topk(
                                    terms, group_col=group, k=k,
                                    expand_rows=erows,
                                    field=field).collect()
                                hits = [r for r in rows
                                        if r["section"] == "hit"]
                                hits.sort(key=lambda r: r["hit_rank"])
                                expanded: dict = {}
                                for r in rows:
                                    if r["section"] == "expand":
                                        expanded.setdefault(
                                            r["group_value"], []).append(
                                            {"doc_id": r["doc_id"],
                                             "score": r["score"],
                                             "rank": r["member_rank"]})
                                for v in expanded.values():
                                    v.sort(key=lambda d: d["rank"])
                                self._json(200, {"docs": [
                                    {"doc_id": r["doc_id"],
                                     "group": r["group_value"],
                                     "rank": r["hit_rank"],
                                     "score": r["score"]} for r in hits
                                ], "expanded": expanded})
                                return
                            rows = idx.topk_grouped(
                                terms, group_col=group, k_groups=k,
                                field=field).collect()
                            self._json(200, {"groups": [
                                {"value": r["group_value"],
                                 "rank": r["group_rank"],
                                 "doc_id": r["doc_id"],
                                 "score": r["score"]} for r in rows
                            ]})
                            return
                        elif sort:
                            # direction is the LAST token, and only if
                            # it is asc/desc — sort-by-function exprs
                            # legitimately contain spaces ("doc_id % 7
                            # desc")
                            head, _, last = sort.rpartition(" ")
                            if head and last.lower() in ("asc", "desc"):
                                col, asc = head, last.lower() != "desc"
                            else:
                                col, asc = sort, True
                            cursor = qs.get("cursor", [""])[0]
                            if cursor:
                                # Solr cursorMark: "*" = first page, else
                                # the opaque tuple the previous response
                                # returned as next_cursor
                                after = None
                                if cursor != "*":
                                    sv, sc_hex, did = cursor.rsplit("|", 2)
                                    try:
                                        sv = int(sv)
                                    except ValueError:
                                        try:
                                            sv = float(sv)
                                        except ValueError:
                                            pass
                                    after = (sv, float.fromhex(sc_hex),
                                             int(did))
                                rows = idx.search_after(
                                    terms, col, after=after, ascending=asc,
                                    rows=k, field=field).collect()
                                nxt = None
                                if rows:
                                    last = rows[-1]
                                    nxt = (f"{last['sort_value']}|"
                                           f"{float(last['score']).hex()}|"
                                           f"{last['doc_id']}")
                                self._json(200, {"docs": [
                                    {"doc_id": r["doc_id"],
                                     "sort_value": str(r["sort_value"]),
                                     "score": r["score"]} for r in rows
                                ], "next_cursor": nxt})
                                return
                            start = int(qs.get("start", ["0"])[0])
                            rows = idx.search_sorted(
                                terms, col,
                                ascending=asc,
                                start=start, rows=k, field=field).collect()
                            self._json(200, {"docs": [
                                {"doc_id": r["doc_id"],
                                 "sort_value": str(r["sort_value"]),
                                 "score": r["score"]} for r in rows
                            ]})
                            return
                        elif syn:
                            # query-time synonyms: each query term may
                            # carry a |-joined synonym set, e.g.
                            # syn=merge:join|combine;window:frame
                            groups = {}
                            for part in syn.split(";"):
                                if not part.strip():
                                    continue
                                canon, _, members = part.partition(":")
                                groups[canon] = [m for m in
                                                 members.split("|") if m]
                            for t in terms:
                                groups.setdefault(t, [])
                            hits = idx.topk_synonyms(groups, k=k,
                                                     field=field)
                            self._json(200, {"hits": [
                                {"doc_id": d, "score": s}
                                for d, s in hits
                            ]})
                            return
                        elif qs.get("fq", [""])[0]:
                            # Solr fq= on /search: {!frange l= u=
                            # incl= inch=}funcsrc routes to the
                            # FunctionRangeQParser analog; any other
                            # fq string is the metadata-predicate
                            # reading (topk_where, the filterCache
                            # path of POST /select)
                            fq_raw = qs.get("fq", [""])[0]
                            if fq_raw.startswith("{!frange"):
                                head, sep, src = fq_raw.partition("}")
                                if not sep or not src.strip():
                                    raise ValueError(
                                        "frange needs {!frange …}func")
                                lp = {}
                                for tokp in head[len("{!frange"):].split():
                                    kk, _, vv = tokp.partition("=")
                                    lp[kk.strip()] = vv.strip()
                                unknown = set(lp) - {"l", "u", "incl",
                                                     "incu", "inch", ""}
                                unknown.discard("")
                                if unknown:
                                    raise ValueError(
                                        f"unknown frange param(s): "
                                        f"{sorted(unknown)}")
                                now_ms = qs.get("now", [""])[0]
                                rows = idx.topk_frange(
                                    terms, src,
                                    k=k, field=field,
                                    l=float(lp["l"]) if "l" in lp
                                    else None,
                                    u=float(lp["u"]) if "u" in lp
                                    else None,
                                    incl_l=lp.get("incl", "true")
                                    != "false",
                                    incl_u=lp.get(
                                        "incu", lp.get("inch", "true"))
                                    != "false",
                                    now_ms=int(now_ms) if now_ms
                                    else None).collect()
                                self._json(200, {"docs": [
                                    {"doc_id": r["doc_id"],
                                     "score": r["score"],
                                     "fval": r["fval"]} for r in rows
                                ]})
                            else:
                                rows = idx.topk_where(
                                    terms, fq_raw, k=k,
                                    field=field).collect()
                                self._json(200, {"docs": [
                                    {"doc_id": r["doc_id"],
                                     "score": r["score"]}
                                    for r in rows
                                ]})
                            return
                        elif elevate or qs.get("excludeIds", [""])[0]:
                            # Solr QueryElevationComponent: pinned ids
                            # first (in order), organic fills the rest;
                            # excludeIds= drops docs (markExcludes=true
                            # keeps them flagged instead)
                            pins = [int(x) for x in elevate.split(",")
                                    if x.strip()]
                            excl = [int(x) for x in
                                    qs.get("excludeIds", [""])[0].split(",")
                                    if x.strip()]
                            mark = qs.get("markExcludes", [""])[0] \
                                in ("true", "1")
                            rows = idx.topk_elevated(
                                terms, pins, k=k, field=field,
                                exclude=excl, mark_excludes=mark)
                            self._json(200, {"docs": rows})
                            return
                        elif qs.get("ltr", [""])[0]:
                            # Solr LTR analog: ltr=w:expr;w:expr — a
                            # linear model over stored-column features
                            model = {}
                            for part in qs.get("ltr", [""])[0].split(";"):
                                if not part.strip():
                                    continue
                                wgt, _, expr = part.partition(":")
                                if not expr.strip():
                                    raise ValueError(
                                        "ltr segment needs weight:expr, "
                                        f"got {part!r}")
                                model[expr] = float(wgt)
                            rows = idx.topk_ltr(terms, model, k=k,
                                                field=field).collect()
                            self._json(200, {"docs": [
                                {"doc_id": r["doc_id"],
                                 "score": r["score"],
                                 "final": r["final"]} for r in rows
                            ]})
                            return
                        elif bf or boost:
                            # Solr bf= additive / edismax boost=
                            # multiplicative function over stored
                            # metadata columns. Actual Solr FUNCTION
                            # syntax (recip(ms(NOW,modified),...)) is
                            # tried first — its grammar has no infix
                            # operators, so a raw-SQL expression like
                            # 0.1*ln(1+bucket) never parses as one
                            # and falls through to the SQL slot.
                            from ftidx import funcquery as _FQ
                            expr, mode = (bf or boost,
                                          "add" if bf else "mult")
                            now_ms = qs.get("now", [""])[0]
                            try:
                                _FQ.parse(expr)
                                is_fq = True
                            except _FQ.FuncQueryError:
                                is_fq = False
                            if is_fq:
                                # resolution errors (NOW without now=,
                                # bad termfreq args) are the caller's —
                                # FuncQueryError is a ValueError, the
                                # route's 400 path
                                rows = idx.topk_funcquery(
                                    terms, expr, k=k, field=field,
                                    mode=mode,
                                    now_ms=int(now_ms) if now_ms
                                    else None).collect()
                            else:
                                rows = idx.topk_boosted(
                                    terms, expr, k=k, field=field,
                                    mode=mode).collect()
                            self._json(200, {"docs": [
                                {"doc_id": r["doc_id"], "score": r["score"],
                                 "boost": r["boost"], "final": r["final"]}
                                for r in rows
                            ]})
                            return
                        elif rq:
                            # Solr ReRankQParser: rq=<terms> reranks the
                            # top rqDocs of the main ranking by adding
                            # rqWeight × BM25(rq terms)
                            hits = idx.topk_reranked(
                                terms, rq.split(), k=k,
                                rerank_docs=int(qs.get("rqDocs", ["100"])[0]),
                                weight=float(qs.get("rqWeight", ["2.0"])[0]),
                                field=field)
                        elif bq:
                            boosts = {}
                            for part in bq.split(","):
                                t, _, w = part.partition("^")
                                boosts[t.strip()] = float(w or 1.0)
                            hits = idx.topk_boost_query(
                                terms, boosts, k=k, field=field)
                        elif pf:
                            hits = idx.topk_phrase_boosted(
                                terms, k=k, pf_weight=float(pf),
                                slop=int(qs.get("ps", ["0"])[0]),
                                field=field)
                        elif weights:
                            hits = idx.topk_fields(
                                terms, weights, k=k,
                                tie=float(tie) if tie else None)
                        else:
                            hits = idx.topk(terms, k=k, field=field,
                                            mode=mode, exclude=exclude or None,
                                            min_match=int(mm) if mm else None)
                        # fl= stored-field enrichment: one column-pruned
                        # scan sized by the hit page, never the corpus
                        fl = qs.get("fl", [""])[0]
                        stored = {}
                        if fl and hits:
                            cols = [c.strip() for c in fl.split(",")
                                    if c.strip()]
                            stored = idx.fetch_docs(
                                [d for d, _ in hits], columns=cols)
                        # hl= highlighting: hl=true reuses the query
                        # terms, hl=a,b highlights those; page-shaped
                        # (one fetch_docs scan + driver fragmenting)
                        hl = qs.get("hl", [""])[0]
                        highlighting = None
                        if hl and hits:
                            hterms = terms if hl.lower() == "true" \
                                else [t for t in hl.split(",") if t.strip()]
                            tag = qs.get("hl.tag", ["em"])[0]
                            highlighting = {
                                str(d): frags for d, frags in idx.highlight(
                                    [d for d, _ in hits], hterms,
                                    frag_size=int(
                                        qs.get("hl.size", ["100"])[0]),
                                    max_frags=int(
                                        qs.get("hl.frags", ["1"])[0]),
                                    pre=f"<{tag}>", post=f"</{tag}>",
                                ).items()}
                    body = {"hits": [
                        {"doc_id": d, "score": s,
                         **{c: v for c, v in stored.get(d, {}).items()
                            if c != "doc_id"}} for d, s in hits
                    ]}
                    if highlighting is not None:
                        body["highlighting"] = highlighting
                    self._json(200, body)
                elif u.path == "/stream":
                    # Solr daemon admin (GET /stream?action=…): list /
                    # stop / kill over the server-lifetime daemon map.
                    # No Spark work → no server lock (a stop must not
                    # queue behind a long-running daemon iteration).
                    action = qs.get("action", [""])[0]
                    if action == "list":
                        # list(values()) snapshots atomically under the
                        # GIL — a concurrent kill must not blow up the
                        # listing mid-iteration
                        snap = sorted(list(daemons.values()),
                                      key=lambda d: d.id)
                        self._json(200, {"daemons": [d.info()
                                                     for d in snap]})
                    elif action in ("stop", "kill"):
                        did = qs.get("id", [""])[0]
                        d = daemons.get(did)
                        if d is None:
                            self._json(404, {"error":
                                             f"no daemon {did!r}"})
                            return
                        d.stop(timeout=5.0)
                        if action == "kill":  # Solr: kill also forgets
                            daemons.pop(did, None)
                        self._json(200, {"id": did, "state": d.state,
                                         "action": action})
                    else:
                        raise ValueError(
                            "GET /stream needs action=list|stop|kill "
                            "(POST /stream evaluates expressions)")
                else:
                    self._json(404, {"error": "unknown path"})
            except ValueError as e:  # bad k, missing positions table, ...
                self._json(400, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — user-supplied SQL
                # exprs (sort=/ltr=/fl=/bf=) surface as Spark
                # Parse/AnalysisException → the caller's fault (400,
                # same policy as POST /select). Anything else is a
                # server-side fault (index corruption, I/O, bugs) and
                # must register on 5xx alerting, never masquerade as a
                # client error — but still answer, never drop the
                # connection.
                if type(e).__name__ in ("AnalysisException",
                                        "ParseException"):
                    self._json(400, {"error": str(e).split("\n")[0]})
                else:
                    self._json(500, {"error": f"{type(e).__name__}: {e}"})

        def do_POST(self):
            self._t0 = time.monotonic()
            path = urlparse(self.path).path
            if path == "/tag":
                # SolrTextTagger: post text, get every dictionary
                # phrase it mentions (dictionary = a stored column's
                # distinct values, built once and memoized)
                from ftidx import tagger as _tagger

                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(body, dict) or "text" not in body:
                        raise ValueError(
                            "/tag body must be a JSON object with 'text'")
                    column = body.get("field", "repo")
                    overlaps = body.get(
                        "overlaps", "LONGEST_DOMINANT_RIGHT")
                    with lock:
                        cache = getattr(idx, "_taggers", None)
                        if cache is None:
                            cache = idx._taggers = {}
                        if column not in cache:
                            cache[column] = _tagger.from_index_column(
                                idx, column)
                        tags = cache[column].tag(body["text"],
                                                 overlaps=overlaps)
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                except Exception as e:
                    if type(e).__name__ in ("AnalysisException",
                                            "ParseException"):
                        self._json(400, {"error": str(e).split("\n")[0]})
                        return
                    raise
                self._json(200, {"tagsCount": len(tags), "tags": tags})
                return
            if path == "/select":
                # Solr JSON Request API: query + filter + paging +
                # fields + facets in one JSON body
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(body, dict):
                        raise ValueError("/select body must be a JSON object")
                    with lock.shared():
                        out = idx.select_json(body)
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                except Exception as e:  # Spark analysis errors on user
                    # -supplied predicates/fields → 400, not a dropped
                    # connection (same policy as the GET tier)
                    if type(e).__name__ in ("AnalysisException",
                                            "ParseException"):
                        self._json(400, {"error": str(e).split("\n")[0]})
                        return
                    raise
                self._json(200, out)
            elif path == "/ltr":
                # Solr rq={!ltr model=... reRankDocs=N}: body carries
                # the query terms + a model-store-shaped JSON model
                # ({"class": "...LinearModel", "params": {"weights":
                # {...}}} or the MultipleAdditiveTreesModel shape) —
                # exactly what Solr's /schema/model-store accepts;
                # rescoring runs on the handle's warm term cache
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    terms = str(body.get("q", "")).split()
                    if not terms:
                        raise ValueError('/ltr body needs q: "terms"')
                    from ftidx.ltr import model_from_json

                    model = model_from_json(body.get("model"))
                    k = int(body.get("k", 10))
                    rrd = int(body.get("reRankDocs", 100))
                    fld = str(body.get("field", "code.content"))
                    with lock.shared():
                        hits = idx.ltr_rerank(terms, model, k=k,
                                              rerank_docs=rrd, field=fld)
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                self._json(200, {"docs": [
                    {"doc_id": d, "score": s} for d, s in hits
                ]})
            elif path == "/knn":
                # Solr {!knn f=vector topK=k} over the attached
                # DenseVectorField-analog table; optional q= composes
                # as a PRE-filter (Solr 9.1+ fq semantics)
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    vec = body.get("vector")
                    if (not isinstance(vec, list) or not vec
                            or not all(isinstance(x, (int, float))
                                       and not isinstance(x, bool)
                                       for x in vec)):
                        raise ValueError(
                            "/knn body needs vector: [numbers]")
                    k = int(body.get("k", 10))
                    terms = str(body.get("q", "")).split() or None
                    fld = str(body.get("field", "code.content"))
                    with lock.shared():
                        rows = idx.knn(vec, k=k, terms=terms,
                                       field=fld).collect()
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                except Exception as e:  # same policy as /select
                    if type(e).__name__ in ("AnalysisException",
                                            "ParseException"):
                        self._json(400, {"error": str(e).split("\n")[0]})
                        return
                    raise
                self._json(200, {"docs": [
                    {"doc_id": r["doc_id"], "score": r["cosine"]}
                    for r in rows
                ]})
            elif path == "/refresh":
                with lock:
                    idx.refresh()
                self._json(200, {"status": "refreshed"})
            elif path == "/compact":
                # Solr optimize/commit analog: fold streamed delta
                # segments and tombstones into the base index, then
                # refresh this handle, under the lock
                from ftidx.maintenance import compact
                with lock:
                    summary = compact(idx.spark, str(idx.path))
                    idx.refresh()
                self._json(200, {"status": "compacted", **summary})
            elif path == "/sql":
                # Solr Parallel SQL (/sql — the JDBC interface): a
                # read-only SELECT over this index's docs table,
                # registered as view `docs`. Solr compiles SQL to
                # streaming expressions over the collection; here
                # Spark IS the SQL engine, so the statement compiles
                # straight to a Catalyst plan. Guard: one statement
                # (no ';'), first keyword SELECT or WITH — Spark runs
                # single statements and a SELECT cannot mutate, so
                # the endpoint is structurally read-only.
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    stmt = body.get("stmt") if isinstance(body, dict) \
                        else None
                    if not isinstance(stmt, str) or not stmt.strip():
                        raise ValueError('/sql body must be {"stmt": "…"}')
                    stmt = stmt.strip().rstrip(";").strip()
                    if ";" in stmt:
                        raise ValueError("one statement only")
                    head = stmt.split(None, 1)[0].lower()
                    if head not in ("select", "with"):
                        raise ValueError(
                            "read-only endpoint: statement must start "
                            "with SELECT or WITH")
                    cap = int(body.get("rows", 1000))
                    if cap < 0:
                        raise ValueError("rows must be >= 0")
                    with lock:
                        read_table(idx.spark, idx.path, "docs") \
                            .createOrReplaceTempView("docs")
                        rows = idx.spark.sql(stmt).limit(cap).collect()
                    out = [{k: (v.isoformat()
                                if hasattr(v, "isoformat") else v)
                            for k, v in r.asDict().items()} for r in rows]
                    out.append({"EOF": True})
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                except Exception as e:
                    if type(e).__name__ in ("AnalysisException",
                                            "ParseException"):
                        self._json(400, {"error": str(e).split("\n")[0]})
                        return
                    raise
                self._json(200, {"result-set": {"docs": out}})
            elif path == "/stream":
                # Solr Streaming Expressions (/stream): body
                # {"expr": "...", "rows": cap} — parsed and compiled
                # to ONE DataFrame plan (ftidx.streamexpr). The served
                # context binds this index as collection 'idx' and its
                # docs table as table(docs), the jdbc()-source analog.
                # Response mirrors Solr: result-set.docs + EOF row.
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    expr = body.get("expr") if isinstance(body, dict) \
                        else None
                    if not isinstance(expr, str) or not expr:
                        raise ValueError(
                            '/stream body must be {"expr": "…"}')
                    cap = int(body.get("rows", 1000))
                    if cap < 0:
                        raise ValueError("rows must be >= 0")
                    from ftidx.streamexpr import StreamContext, evaluate

                    with lock:
                        docs = read_table(idx.spark, idx.path, "docs")
                        # topic() checkpoint collections persist under
                        # the served index dir (survive server restarts
                        # like Solr's checkpoint collection does)
                        ctx = StreamContext(
                            tables={"docs": docs},
                            indexes={"idx": idx},
                            checkpoint_dir=str(idx.path / "topics"),
                            daemons=daemons, run_lock=lock)
                        rows = evaluate(expr, ctx).limit(cap).collect()
                    out = [{k: (v.isoformat()
                                if hasattr(v, "isoformat") else v)
                            for k, v in r.asDict().items()} for r in rows]
                    out.append({"EOF": True})
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                except Exception as e:
                    if type(e).__name__ in ("AnalysisException",
                                            "ParseException"):
                        self._json(400, {"error": str(e).split("\n")[0]})
                        return
                    raise
                self._json(200, {"result-set": {"docs": out}})
            elif path == "/update":
                # Solr /update (JSON) — the write API: add-or-replace
                # docs ("add": [docs…] → upsert_docs, stored-field
                # reconstruction, O(affected buckets)), atomic field
                # modifiers ("atomic": {id: {field: {"set": v}}} →
                # atomic_update), delete-by-id ("delete": {"ids": […]}
                # → tombstones). The handle refreshes afterwards so
                # the next query serves the new state (Solr
                # soft-commit). delete-by-query stays an offline
                # maintenance op (it rewrites postings).
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(body, dict):
                        raise ValueError("/update body must be a JSON object")
                    unknown = set(body) - {"add", "atomic", "delete"}
                    if unknown:
                        raise ValueError(
                            f"unsupported /update key(s): {sorted(unknown)}")
                    if not body:
                        raise ValueError(
                            "/update needs add, atomic and/or delete")
                    out = {}
                    with lock:
                        if "add" in body:
                            out["added"] = _apply_add(idx, body["add"])
                        if "atomic" in body:
                            from ftidx.maintenance import atomic_update

                            if not isinstance(body["atomic"], dict):
                                raise ValueError(
                                    "atomic must map doc_id -> "
                                    "{field: {'set': value}}")
                            ops = {int(k): v
                                   for k, v in body["atomic"].items()}
                            res = atomic_update(idx.spark, str(idx.path),
                                                ops)
                            out["atomic"] = res["updated"]
                        if "delete" in body:
                            d = body["delete"]
                            if not isinstance(d, dict) or \
                                    set(d) != {"ids"} or \
                                    not isinstance(d["ids"], list):
                                raise ValueError(
                                    "delete must be {'ids': [doc_id, …]} "
                                    "(delete-by-query is the offline "
                                    "maintenance.delete_by_query op)")
                            idx.delete([int(x) for x in d["ids"]])
                            out["deleted"] = len(d["ids"])
                        idx.refresh()
                except (ValueError, KeyError, TypeError,
                        json.JSONDecodeError) as e:
                    self._json(400, {"error": str(e)})
                    return
                self._json(200, out)
            else:
                self._json(404, {"error": "unknown path"})

    return Handler


class FtServer:
    """Owns the HTTP server; ``start()`` serves on a daemon thread (the
    test/embedded mode), ``serve_forever()`` blocks (the CLI mode)."""

    def __init__(self, idx, host: str = "127.0.0.1", port: int = 0):
        self._lock = _RWLock()
        # Solr's server-lifetime daemon map: stream-expression
        # daemon()s registered by any request live here until stopped
        self.daemons: dict = {}
        self.httpd = ThreadingHTTPServer(
            (host, port), _make_handler(idx, self._lock, self.daemons))
        self.host, self.port = self.httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> "FtServer":
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def serve_forever(self) -> None:
        self.httpd.serve_forever()

    def stop(self) -> None:
        for d in list(self.daemons.values()):
            d.stop(timeout=2.0)
        self.daemons.clear()
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def main() -> None:
    import argparse

    from ftidx.index import open_index
    from ftidx.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("index_path")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark(cores=args.cores, app_name="ftidx-server")
    idx = open_index(spark, args.index_path)
    srv = FtServer(idx, args.host, args.port)
    print(f"ftidx serving {args.index_path} on "
          f"http://{srv.host}:{srv.port} (/health /search /phrase /stats)")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.stop()
        spark.stop()


if __name__ == "__main__":
    main()
