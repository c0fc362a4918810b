"""Solr Streaming Expressions — the `/stream` API (Solr's
parallel-SQL/stream-decorator surface, delegated to Solr by the
reference like every other query feature; pom.xml:32-36).

An expression like

    top(n=5,
        rollup(search(idx, q="def return", rows=100),
               over="lang", count(*), sum(score)),
        sort="count(*) desc")

parses into a node tree and COMPILES TO ONE DATAFRAME PLAN — no
per-decorator materialization: Catalyst sees the whole pipeline
(search → groupBy → TakeOrdered here) and optimizes it as a unit,
which is the Spark-first reading of Solr's "stream decorators compose
lazily" contract.

Sources
-------
- ``search(collection, q="…", k=N, fl="a,b")`` — top-k BM25 over an
  FtIndex bound in the context (query_string surface; fl joins stored
  metadata columns).
- ``facet(collection, q="…", buckets="f", count(*)…, bucketSorts=,
  bucketSizeLimit=)`` — aggregates over the FULL match set (match ids
  decode executor-side; never a top-k truncation).
- ``stats(collection, q="…", count(*), sum(f)…)`` — Solr's stats()
  source: ONE tuple of metrics over the full match set (facet()
  without buckets).
- ``timeseries(collection, q="…", field="modified", start=, end=,
  gap="+1DAY", count(*)…)`` — metrics per Solr date-math bucket;
  EVERY bucket in [start, end) is emitted (count 0 when empty),
  exactly Solr's timeseries contract. ``field`` names the DATE
  column (Solr's contract); ``searchField`` the match field.
- ``knnSearch(collection, id=N, qf="…", k=…)`` — Solr's text knn
  (MoreLikeThis over the source doc's top tf·idf terms);
  ``vector="0.1,0.2,…"`` instead of ``id`` runs the dense-vector
  cosine knn over the attached embedding table.
- ``table(name)`` — a DataFrame bound in the context; the analog of
  Solr's ``jdbc()`` stream source (external relations as streams).
- ``random(collection, q=, rows=, seed=, fl=)`` — pseudo-random
  sample of the match set; explicitly seeded (replay-deterministic),
  one md5-keyed TakeOrdered.
- ``shortestPath(collection, from=, to=, edge="f=t", maxDepth=)`` —
  all minimum-hop paths as (path, length) tuples; distributed BFS +
  parent-DAG walk-back (ftidx.graph.shortest_path).
- ``topic(checkpointCollection, collection, q=, id=, fl=)`` — Solr's
  checkpointed pub-sub: each evaluation delivers only docs that
  arrived since the previous one with the same id (ftidx.topic,
  at-least-once; checkpoints persist under the context's
  ``checkpoint_dir``/checkpointCollection).

Decorators
----------
``select`` (projection + `as` renames), ``sort``, ``top`` (TakeOrdered
— never a global sort), ``unique`` (first row per key under the given
sort), ``rollup`` (groupBy aggregates with Solr's literal metric
names: ``count(*)``, ``sum(f)``, ``avg(f)``, ``min(f)``, ``max(f)``,
``countDist(f)`` — Solr's EXACT distinct — and ``std(f)``, usable in
rollup/stats/facet/timeseries alike),
``innerJoin`` / ``leftOuterJoin`` / ``hashJoin`` (hashJoin broadcasts
the right side — Solr's own hint that the right stream fits in
memory), ``merge`` (sorted union), ``intersect`` / ``complement``
(left-semi / left-anti joins on the ``on`` key), ``fetch`` (stored-
field enrichment from a collection's docs table), ``having`` (boolean
ops ``eq, gt, lt, gteq, lteq, and, or, not`` over rollup output),
``update`` (index the inner stream's tuples into a destination
collection — maintenance.upsert_docs at evaluation time; emits one
(batchIndexed, bucketsRebuilt) summary tuple), ``commit`` (refresh the
destination's handle so later search()es see the wrapped update's
writes — the openSearcher analog),
``cartesianProduct`` (one tuple per element of a multivalued field —
explode), ``nodes`` (ONE graph hop per wrapping, Solr's gatherNodes:
distinct gather-field values of edges whose walk-from matches the
inner stream; scatter="branches,leaves" unions the frontier in;
multi-hop cycle-safe closures live in ftidx.graph), ``daemon``
(Solr's DaemonStream, REAL: registers a background thread
re-evaluating the wrapped stream every ``runInterval`` ms on the
context's daemon registry — eval-time side effects repeat, so
``daemon(update(dest, topic(...)))`` is the continuous-indexing
loop; ``terminate="true"`` self-stops after a zero-tuple run; the
serving tier lists/stops/kills via ``GET /stream?action=``).

Math Expressions
----------------
``let(a=<stream>, …, <expr>)`` binds streams to variables — decorators
reference a binding as ``table(a)``; the math functions below also
accept the bare name — then ``describe mean sum min max
stddev variance percentile`` (one relation column → one agg row) and
``corr cov regress hist`` (two columns of ONE relation / equal-width
bins). Solr evaluates these over driver-side arrays; here every one
is an aggregation, so the vector never leaves the executors — which
is also why corr/cov/regress take (relation, xcol, ycol): positional
alignment of two independent distributed streams has no meaning.

Unsupported decorators raise ValueError naming themselves — the
grammar is a strict subset, never a silent no-op.

Scale shape: every decorator maps to a declarative op (no UDFs, no
driver materialization); ``top`` is the only global cut and plans as
TakeOrderedAndProject. A `/stream` POST route serves the result.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ftidx.schema import read_table

# ---------------------------------------------------------------- parser


@dataclass
class Node:
    """A function-call node: name(positional_args…, key=value…)."""
    name: str
    args: list = field(default_factory=list)      # Node | str
    params: dict = field(default_factory=dict)    # key -> str | Node


class _P:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def err(self, msg: str):
        raise ValueError(f"stream expression parse error at {self.i}: {msg}")

    def ws(self):
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def peek(self) -> str:
        return self.s[self.i] if self.i < len(self.s) else ""

    def ident(self) -> str:
        j = self.i
        while j < len(self.s) and (self.s[j].isalnum() or self.s[j] in "_.*"):
            j += 1
        if j == self.i:
            self.err(f"expected identifier, found {self.peek()!r}")
        tok, self.i = self.s[self.i:j], j
        return tok

    def quoted(self) -> str:
        # "…" with backslash escapes (Solr's quoting)
        assert self.s[self.i] == '"'
        self.i += 1
        out = []
        while self.i < len(self.s):
            c = self.s[self.i]
            if c == "\\" and self.i + 1 < len(self.s):
                out.append(self.s[self.i + 1])
                self.i += 2
                continue
            if c == '"':
                self.i += 1
                return "".join(out)
            out.append(c)
            self.i += 1
        self.err("unterminated quoted string")

    def value(self):
        """A parameter value: quoted string, nested call, or bare token
        up to the next top-level ',' or ')'."""
        self.ws()
        if self.peek() == '"':
            return self.quoted()
        j = self.i
        depth = 0
        while j < len(self.s):
            c = self.s[j]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            j += 1
        raw = self.s[self.i:j].strip()
        if "(" in raw:  # nested call as a value (e.g. having's boolean)
            sub = _P(raw)
            node = sub.call()
            sub.ws()
            if sub.i != len(raw):
                self.err(f"trailing input in nested value: {raw!r}")
            self.i = j
            return node
        self.i = j
        return raw

    def call(self) -> Node:
        self.ws()
        name = self.ident()
        self.ws()
        if self.peek() != "(":
            self.err(f"expected '(' after {name!r}")
        self.i += 1
        node = Node(name)
        self.ws()
        if self.peek() == ")":
            self.i += 1
            return node
        while True:
            self.ws()
            save = self.i
            # try: identifier followed by '=' (param) or '(' (nested call)
            if self.peek() == '"':
                node.args.append(self.quoted())
            else:
                try:
                    tok = self.ident()
                except ValueError:
                    tok = None
                self.ws()
                if tok is not None and self.peek() == "=":
                    self.i += 1
                    node.params[tok] = self.value()
                elif tok is not None and self.peek() == "(":
                    self.i = save
                    node.args.append(self.call())
                elif tok is not None:
                    node.args.append(tok)
                else:
                    self.err(f"unexpected {self.peek()!r}")
            self.ws()
            if self.peek() == ",":
                self.i += 1
                continue
            if self.peek() == ")":
                self.i += 1
                return node
            self.err(f"expected ',' or ')', found {self.peek()!r}")


def parse(expr: str) -> Node:
    p = _P(expr)
    node = p.call()
    p.ws()
    if p.i != len(expr):
        p.err(f"trailing input: {expr[p.i:]!r}")
    return node


# ------------------------------------------------------------- evaluator

_METRICS = {"count", "sum", "avg", "min", "max", "countDist", "std"}
_BOOL_OPS = {"eq", "gt", "lt", "gteq", "lteq", "and", "or", "not"}


def _sort_cols(spec: str):
    cols = []
    for part in spec.split(","):
        toks = part.split()
        if not toks:
            continue
        if len(toks) > 2 or (len(toks) == 2 and
                             toks[1].lower() not in ("asc", "desc")):
            raise ValueError(f"bad sort spec {part.strip()!r}")
        c = F.col(toks[0])
        cols.append(c.desc() if len(toks) == 2 and toks[1].lower() == "desc"
                    else c.asc())
    if not cols:
        raise ValueError("empty sort spec")
    return cols


def _metric(node: Node):
    """sum(f)/count(*)/… → (agg Column aliased with Solr's literal
    metric name, e.g. 'sum(score)')."""
    if node.name not in _METRICS:
        raise ValueError(f"unsupported rollup metric {node.name!r}")
    if len(node.args) != 1 or node.params or not isinstance(node.args[0], str):
        raise ValueError(f"metric {node.name} takes one field arg")
    f = node.args[0]
    label = f"{node.name}({f})"
    if node.name == "count":
        return F.count(F.lit(1)).alias(label)
    if f == "*":
        raise ValueError(f"{node.name}(*) is not a thing; name a field")
    if node.name == "countDist":  # Solr's EXACT distinct rollup metric
        return F.countDistinct(F.col(f)).alias(label)
    if node.name == "std":  # Solr rollup std() = sample stddev
        return F.round(F.stddev_samp(F.col(f)), 5).alias(label)
    return getattr(F, node.name)(F.col(f)).alias(label)


def _bool(node: Node):
    """having's boolean tree → Column predicate. Operands are field
    names (incl. Solr-literal metric names like 'sum(score)') or
    numeric literals."""
    def operand(x):
        if isinstance(x, Node):
            if x.name in _METRICS:
                # metric reference == the rollup column's literal name
                return F.col(f"{x.name}({x.args[0]})")
            return _bool(x)
        try:
            return F.lit(float(x)) if "." in x else F.lit(int(x))
        except ValueError:
            return F.col(x)

    if node.name not in _BOOL_OPS:
        raise ValueError(f"unsupported boolean op {node.name!r}")
    a = [operand(x) for x in node.args]
    if node.name == "not":
        if len(a) != 1:
            raise ValueError("not() takes one arg")
        return ~a[0]
    if len(a) != 2:
        raise ValueError(f"{node.name}() takes two args")
    x, y = a
    return {"eq": x == y, "gt": x > y, "lt": x < y,
            "gteq": x >= y, "lteq": x <= y,
            "and": x & y, "or": x | y}[node.name]


class StreamContext:
    """Bindings for a /stream evaluation: ``tables`` (name → DataFrame,
    the jdbc()-analog sources), ``indexes`` (name → FtIndex, the
    search() collections), ``checkpoint_dir`` (the root under which
    ``topic()`` checkpoint collections live — Solr keeps topic
    checkpoints in a collection; here each checkpoint collection is a
    subdirectory of this root), ``daemons`` (id → StreamDaemon — the
    registry daemon() registers into; pass ONE shared dict across
    requests to get Solr's server-lifetime daemon map), and
    ``run_lock`` (optional lock each daemon iteration acquires, so a
    serving tier can serialize daemon work against request work)."""

    def __init__(self, tables: dict | None = None,
                 indexes: dict | None = None,
                 checkpoint_dir: str | None = None,
                 daemons: dict | None = None,
                 run_lock=None):
        self.tables = tables or {}
        self.indexes = indexes or {}
        self.checkpoint_dir = checkpoint_dir
        self.daemons = daemons
        self.run_lock = run_lock


class StreamDaemon:
    """Solr DaemonStream: wrap an inner stream expression and
    re-evaluate it every ``runInterval`` ms on a background thread —
    the vehicle for continuous incremental work (a daemon wrapping
    ``update(dest, topic(...))`` is Solr's canonical "follow a query
    and index the matches forever" loop).

    Semantics matched to Solr (DaemonStream.java, public docs):

    - the first iteration runs immediately at start; later iterations
      are spaced by ``runInterval`` ms,
    - an iteration that THROWS is recorded (``last_error``) and the
      daemon keeps running — transient failures don't kill the loop,
    - ``terminate=True`` shuts the daemon down after an iteration
      that yields zero tuples (Solr terminates when the wrapped topic
      returns no docs), and
    - re-registering an id replaces (stops) the previous daemon.

    Each iteration re-evaluates the inner NODE, so eval-time side
    effects repeat: topic() advances its checkpoint, update() indexes
    the batch — exactly the recurring behavior Solr's daemon exists
    for. Inner compile errors (unknown collection, bad params)
    surface in ``last_error`` after the first run rather than at
    registration: validating by evaluation would fire those side
    effects once outside the schedule."""

    def __init__(self, daemon_id: str, inner: Node, ctx: "StreamContext",
                 interval_ms: int = 1000, terminate: bool = False,
                 run_lock=None):
        import threading

        self.id = daemon_id
        self.interval_ms = int(interval_ms)
        self.terminate = bool(terminate)
        self._inner = inner
        self._ctx = ctx
        self._run_lock = run_lock
        self._stop = threading.Event()
        self.iterations = 0
        self.last_tuples: int | None = None
        self.last_error: str | None = None
        self._thread = threading.Thread(
            target=self._loop, daemon=True,
            name=f"ftidx-daemon-{daemon_id}")

    def start(self) -> "StreamDaemon":
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            n = None
            try:
                if self._run_lock is not None:
                    with self._run_lock:
                        n = _eval(self._inner, self._ctx).count()
                else:
                    n = _eval(self._inner, self._ctx).count()
                self.last_tuples = int(n)
                self.last_error = None
            except Exception as e:  # noqa: BLE001 — Solr daemons log + continue
                self.last_error = f"{type(e).__name__}: {e}".split("\n")[0]
            self.iterations += 1
            if self.terminate and n == 0:
                break
            if self._stop.wait(self.interval_ms / 1000.0):
                break

    @property
    def state(self) -> str:
        return "RUNNING" if self._thread.is_alive() else "TERMINATED"

    def stop(self, timeout: float = 10.0) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout)

    def info(self) -> dict:
        """The Solr daemon ``action=list`` row."""
        return {"id": self.id, "state": self.state,
                "runInterval": self.interval_ms,
                "terminate": self.terminate,
                "iterations": self.iterations,
                "lastTuples": self.last_tuples,
                "lastError": self.last_error}


def evaluate(expr: str | Node, ctx: StreamContext) -> DataFrame:
    node = parse(expr) if isinstance(expr, str) else expr
    return _eval(node, ctx)


def _eval(node: Node, ctx: StreamContext) -> DataFrame:  # noqa: C901
    name = node.name

    if name == "table":
        if len(node.args) != 1 or not isinstance(node.args[0], str):
            raise ValueError("table() takes one name arg")
        t = node.args[0]
        if t not in ctx.tables:
            raise ValueError(f"unknown table {t!r}")
        return ctx.tables[t]

    if name == "search":
        if not node.args or not isinstance(node.args[0], str):
            raise ValueError("search() needs a collection name first")
        coll = node.args[0]
        if coll not in ctx.indexes:
            raise ValueError(f"unknown collection {coll!r}")
        idx = ctx.indexes[coll]
        q = node.params.get("q")
        if not isinstance(q, str) or not q:
            raise ValueError("search() needs q=\"…\"")
        k = int(node.params.get("k", node.params.get("rows", 10)))
        hits = idx.query_string(q, k=k)
        df = idx.spark.createDataFrame(
            [(int(d), float(s)) for d, s in hits],
            "doc_id long, score double")
        return _apply_fl(idx, df, node.params.get("fl", ""))

    if name == "facet":
        # Solr facet() stream source: aggregates over the FULL match
        # set of q — never a top-k truncation. Match ids decode
        # executor-side from the term-pruned postings
        # (FtIndex._matched_ids), inner-join the docs table for field
        # values, one map-side-combinable groupBy; buckets ranked by
        # bucketSorts, cut at bucketSizeLimit (TakeOrdered).
        if not node.args or not isinstance(node.args[0], str):
            raise ValueError("facet() needs a collection name first")
        coll = node.args[0]
        if coll not in ctx.indexes:
            raise ValueError(f"unknown collection {coll!r}")
        idx = ctx.indexes[coll]
        q = node.params.get("q")
        if not isinstance(q, str) or not q.split():
            raise ValueError('facet() needs q="term …" (disjunction)')
        buckets = [c.strip() for c in _req(node, "buckets").split(",")]
        metrics = [a for a in node.args[1:] if isinstance(a, Node)]
        if not metrics:
            raise ValueError("facet() needs at least one metric")
        sorts = node.params.get("bucketSorts", "count(*) desc")
        limit = int(node.params.get("bucketSizeLimit", 10))
        field = node.params.get("field", "code.content")
        ids = idx._matched_ids(q.split(), field)
        docs = read_table(idx.spark, idx.path, "docs")
        return (docs.join(ids, "doc_id")
                .groupBy(*buckets)
                .agg(*[_metric(m) for m in metrics])
                .orderBy(*_sort_cols(sorts)).limit(limit))

    if name == "stats":
        # Solr stats() stream source: metrics over the FULL match set
        # of q — facet() without buckets; ONE aggregate row, same
        # executor-side id decode + map-side-combinable aggregate
        idx = _collection(node, ctx)
        q = node.params.get("q")
        if not isinstance(q, str) or not q.split():
            raise ValueError('stats() needs q="term …" (disjunction)')
        metrics = [a for a in node.args[1:] if isinstance(a, Node)]
        if not metrics:
            raise ValueError("stats() needs at least one metric")
        field = node.params.get("field", "code.content")
        ids = idx._matched_ids(q.split(), field)
        docs = read_table(idx.spark, idx.path, "docs")
        return docs.join(ids, "doc_id").agg(*[_metric(m) for m in metrics])

    if name == "timeseries":
        # Solr timeseries() stream source: metrics per date-math
        # bucket over the match set. `field` names the DATE column
        # (Solr's contract — the match field is `searchField`). Unlike
        # facet_range_date's mincount=1 discipline, Solr's timeseries
        # emits EVERY bucket in [start, end): the bounded bucket grid
        # is generated driver-side (it is (end-start)/gap rows — KB;
        # refused above 10k like Solr's facet-range limit) and the
        # aggregates left-join onto it, count(*) coalesced to 0,
        # sum/avg/min/max NULL on empty buckets.
        idx = _collection(node, ctx)
        q = node.params.get("q")
        if not isinstance(q, str) or not q.split():
            raise ValueError('timeseries() needs q="term …" '
                             "(disjunction)")
        metrics = [a for a in node.args[1:] if isinstance(a, Node)]
        if not metrics:
            raise ValueError("timeseries() needs at least one metric")
        start = _req(node, "start")
        end = _req(node, "end")
        gap = _req(node, "gap")
        date_col = str(node.params.get("field", "modified"))
        search_field = str(node.params.get("searchField", "code.content"))
        base, bucket = idx._date_bucket_base(
            q.split(), start, end, gap, facet=date_col, field=search_field)
        agg = (base.groupBy(bucket.alias("bucket_start"))
               .agg(*[_metric(m) for m in metrics]))
        grid = idx.spark.createDataFrame(
            [(b,) for b in _date_grid(start, end, gap)],
            "bucket_start timestamp")
        out = grid.join(F.broadcast(agg), "bucket_start", "left")
        for m in metrics:
            if m.name == "count":
                label = f"count({m.args[0]})"
                out = out.withColumn(
                    label, F.coalesce(F.col(label), F.lit(0)))
        return out.orderBy(F.asc("bucket_start"))

    if name == "knnSearch":
        # Solr knnSearch() stream source: the k docs nearest a SOURCE
        # DOC by text similarity — MoreLikeThis over the doc's top
        # tf·idf terms (FtIndex.more_like_this), BM25-ranked, source
        # excluded. vector="…" instead of id= runs the dense-vector
        # cosine knn over the attached embedding table (Solr's {!knn}
        # as a stream source); both emit (doc_id, score).
        idx = _collection(node, ctx)
        k = int(node.params.get("k", 10))
        vec_spec = node.params.get("vector")
        if vec_spec is not None:
            vec = [float(x) for x in str(vec_spec).split(",") if x.strip()]
            df = idx.knn(vec, k=k).select(
                "doc_id", F.col("cosine").alias("score"))
            return _apply_fl(idx, df, node.params.get("fl", ""))
        doc_id = node.params.get("id")
        if doc_id is None:
            raise ValueError("knnSearch() needs id= (the source doc) "
                             "or vector=")
        qf = str(node.params.get("qf", "code.content"))
        hits = idx.more_like_this(
            int(doc_id), k=k, field=qf,
            max_query_terms=int(node.params.get("maxqt", 12)))
        df = idx.spark.createDataFrame(
            [(int(d), float(s)) for d, s in hits],
            "doc_id long, score double")
        return _apply_fl(idx, df, node.params.get("fl", ""))

    if name == "fetch":
        # Solr fetch(): enrich stream tuples with stored fields from a
        # collection — a left join against the (column-pruned) docs
        # table on the `on` key
        if not node.args or not isinstance(node.args[0], str):
            raise ValueError("fetch() needs a collection name first")
        coll = node.args[0]
        if coll not in ctx.indexes:
            raise ValueError(f"unknown collection {coll!r}")
        df = _eval(_stream_arg(node), ctx)
        on_spec = _req(node, "on")
        l, r = (x.strip() for x in on_spec.split("=", 1)) if "=" in on_spec \
            else (on_spec.strip(), on_spec.strip())
        fl = [c.strip() for c in _req(node, "fl").split(",") if c.strip()]
        fl = [c for c in fl if c not in df.columns]  # already-present
        if not fl:
            return df
        idx = ctx.indexes[coll]
        docs = read_table(idx.spark, idx.path, "docs") \
            .select(F.col(r).alias("__sx_on"), *fl)
        return df.join(docs, df[l] == F.col("__sx_on"), "left") \
            .drop("__sx_on")

    if name == "select":
        if not node.args or not isinstance(node.args[0], Node):
            raise ValueError("select() needs a stream first")
        df = _eval(node.args[0], ctx)
        outs = []
        for spec in node.args[1:]:
            if not isinstance(spec, str):
                raise ValueError("select() fields must be strings")
            parts = spec.split(" as ")
            if len(parts) == 2:
                outs.append(F.col(parts[0].strip())
                            .alias(parts[1].strip()))
            else:
                outs.append(F.col(spec.strip()))
        if not outs:
            raise ValueError("select() needs at least one field")
        return df.select(*outs)

    if name == "sort":
        df = _eval(_stream_arg(node), ctx)
        return df.orderBy(*_sort_cols(_req(node, "by")))

    if name == "top":
        df = _eval(_stream_arg(node), ctx)
        n = int(_req(node, "n"))
        return df.orderBy(*_sort_cols(_req(node, "sort"))).limit(n)

    if name == "unique":
        df = _eval(_stream_arg(node), ctx)
        over = [c.strip() for c in _req(node, "over").split(",")]
        sort = node.params.get("sort")
        order = _sort_cols(sort) if sort else [F.col(c).asc() for c in over]
        w = Window.partitionBy(*over).orderBy(*order)
        return (df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))

    if name == "rollup":
        df = _eval(_stream_arg(node), ctx)
        over = [c.strip() for c in _req(node, "over").split(",")]
        metrics = [a for a in node.args[1:] if isinstance(a, Node)]
        if not metrics:
            raise ValueError("rollup() needs at least one metric")
        return df.groupBy(*over).agg(*[_metric(m) for m in metrics])

    if name in ("innerJoin", "leftOuterJoin", "hashJoin"):
        streams = [a for a in node.args if isinstance(a, Node)]
        if len(streams) != 2:
            raise ValueError(f"{name}() needs exactly two streams")
        left, right = _eval(streams[0], ctx), _eval(streams[1], ctx)
        on_spec = _req(node, "on")
        how = "left" if name == "leftOuterJoin" else "inner"
        # rename the right side's join keys before building the
        # condition: when both streams derive from the same source
        # (rollup joined back onto its input), bare column refs are
        # ambiguous and Spark warns about a trivially-true predicate
        pairs = []
        for part in on_spec.split(","):
            l, r = (x.strip() for x in part.split("=", 1)) if "=" in part \
                else (part.strip(), part.strip())
            pairs.append((l, r))
        for _, r in pairs:
            right = right.withColumnRenamed(r, f"__sx_{r}")
        if name == "hashJoin":
            right = F.broadcast(right)
        cond = left[pairs[0][0]] == right[f"__sx_{pairs[0][1]}"]
        for l, r in pairs[1:]:
            cond = cond & (left[l] == right[f"__sx_{r}"])
        out = left.join(right, cond, how)
        return out.drop(*[f"__sx_{r}" for _, r in pairs])

    if name in ("intersect", "complement"):
        # Solr set decorators: emit LEFT tuples whose key does (does
        # not) appear in the right stream — left-semi / left-anti
        streams = [a for a in node.args if isinstance(a, Node)]
        if len(streams) != 2:
            raise ValueError(f"{name}() needs exactly two streams")
        left, right = _eval(streams[0], ctx), _eval(streams[1], ctx)
        how = "left_semi" if name == "intersect" else "left_anti"
        pairs = []
        for part in _req(node, "on").split(","):
            l, r = (x.strip() for x in part.split("=", 1)) if "=" in part \
                else (part.strip(), part.strip())
            pairs.append((l, r))
        for _, r in pairs:  # same self-join disambiguation as the joins
            right = right.withColumnRenamed(r, f"__sx_{r}")
        cond = left[pairs[0][0]] == right[f"__sx_{pairs[0][1]}"]
        for l, r in pairs[1:]:
            cond = cond & (left[l] == right[f"__sx_{r}"])
        return left.join(right, cond, how)

    if name == "merge":
        streams = [a for a in node.args if isinstance(a, Node)]
        if len(streams) < 2:
            raise ValueError("merge() needs two or more streams")
        dfs = [_eval(s, ctx) for s in streams]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.orderBy(*_sort_cols(_req(node, "on")))

    if name == "parallel":
        # Solr parallel(workers, stream, sort=) shards the stream over
        # N workers and merge-sorts at the coordinator. Spark executes
        # EVERY stream distributed already, so parallel() reduces to
        # its inner stream — plus the merge sort when given (the only
        # observable part of the contract here)
        df = _eval(_stream_arg(node), ctx)
        sort = node.params.get("sort")
        return df.orderBy(*_sort_cols(sort)) if sort else df

    if name == "having":
        df = _eval(_stream_arg(node), ctx)
        preds = [a for a in node.args if isinstance(a, Node)
                 and a.name in _BOOL_OPS]
        if len(preds) != 1:
            raise ValueError("having() needs exactly one boolean")
        return df.filter(_bool(preds[0]))

    if name == "let":
        # Solr Math Expressions entry point: let(a=<stream>, b=<stream>,
        # <expr>) binds streams to variables IN ORDER (later bindings
        # may reference earlier ones), then evaluates the one
        # positional expression with the bindings visible as table()
        # names and as bare-variable args to the math functions. The
        # whole thing still compiles to ONE plan — bindings are lazy
        # DataFrames, never materialized by the binding itself.
        exprs = [a for a in node.args if isinstance(a, Node)]
        if len(exprs) != 1:
            raise ValueError("let() needs exactly one expression after "
                             "the bindings")
        if not node.params:
            raise ValueError("let() needs at least one binding")
        scope = dict(ctx.tables)
        sub = StreamContext(tables=scope, indexes=ctx.indexes)
        for k, v in node.params.items():
            if not isinstance(v, Node):
                raise ValueError(
                    f"let() binding {k!r} must be a stream expression")
            scope[k] = _eval(v, sub)
        return _eval(exprs[0], sub)

    if name in _MATH_FNS:
        return _math(node, ctx)

    if name == "cartesianProduct":
        # Solr cartesianProduct(stream, field): one output tuple per
        # element of a multivalued field — exactly explode(); the
        # scalar columns ride along unchanged. `productSort` reorders
        # the result when given (Solr's optional param).
        df = _eval(_stream_arg(node), ctx)
        fields = [a for a in node.args[1:] if isinstance(a, str)]
        if len(fields) != 1:
            raise ValueError("cartesianProduct() needs exactly one "
                             "field to explode")
        fld = fields[0].strip()
        if fld not in df.columns:
            raise ValueError(f"unknown field {fld!r}")
        others = [c for c in df.columns if c != fld]
        out = df.select(*others, F.explode(fld).alias(fld)) \
            .select(*df.columns)
        sort = node.params.get("productSort")
        return out.orderBy(*_sort_cols(sort)) if sort else out

    if name == "nodes":
        # Solr nodes() graph source: ONE traversal hop per wrapping
        # (depth composes by nesting, per Solr) — gather the distinct
        # `to` values of edges whose `from` matches the inner stream's
        # walk column. Edge set = the named collection's docs table
        # (or a bound table, for arbitrary edge lists); the hop is one
        # distinct + one key join, never a driver-side walk. Multi-hop
        # closures with cycle-safe visited sets live in
        # ftidx.graph.graph_expand / graph_reachable.
        if not node.args or not isinstance(node.args[0], str):
            raise ValueError("nodes() needs a collection name first")
        coll = node.args[0]
        if coll in ctx.indexes:
            idx = ctx.indexes[coll]
            edges = read_table(idx.spark, idx.path, "docs")
        elif coll in ctx.tables:
            edges = ctx.tables[coll]
        else:
            raise ValueError(f"unknown collection {coll!r}")
        df = _eval(_stream_arg(node), ctx)
        walk = _req(node, "walk")
        if "->" not in walk:
            raise ValueError('nodes() walk must be "streamField->edgeField"')
        src_col, from_col = (x.strip() for x in walk.split("->", 1))
        gather = _req(node, "gather").strip()
        for c, side in ((from_col, "edge"), (gather, "edge")):
            if c not in edges.columns:
                raise ValueError(f"unknown {side} field {c!r}")
        if src_col not in df.columns:
            raise ValueError(f"unknown stream field {src_col!r}")
        frontier = df.select(F.col(src_col).alias("__sx_from")).distinct()
        out = (edges.join(frontier,
                          edges[from_col] == F.col("__sx_from"))
               .select(F.col(gather).alias("node")).distinct())
        if str(node.params.get("scatter", "leaves")) not in (
                "leaves", "branches,leaves", "leaves,branches"):
            raise ValueError("scatter supports leaves / branches,leaves")
        if "branches" in str(node.params.get("scatter", "")):
            out = out.unionByName(
                frontier.select(F.col("__sx_from").alias("node"))) \
                .distinct()
        return out

    if name == "significantTerms":
        # Solr significantTerms stream source: terms overrepresented
        # in q's FOREGROUND match set vs the collection background —
        # FtIndex.significant_terms (cogrouped blob intersection, JLH
        # score); minDocFreq/maxDocFreq follow Solr's <1.0 = fraction
        # rule, applied to the global background df.
        if not node.args or not isinstance(node.args[0], str):
            raise ValueError("significantTerms() needs a collection "
                             "name first")
        coll = node.args[0]
        if coll not in ctx.indexes:
            raise ValueError(f"unknown collection {coll!r}")
        idx = ctx.indexes[coll]
        q = node.params.get("q")
        if not isinstance(q, str) or not q.split():
            raise ValueError('significantTerms() needs q="term …" '
                             "(disjunction)")
        return idx.significant_terms(
            q.split(),
            field=str(node.params.get("field", "code.content")),
            limit=int(node.params.get("limit", 20)),
            min_doc_freq=float(node.params.get("minDocFreq", 5.0)),
            max_doc_freq=float(node.params.get("maxDocFreq", 0.3)),
            min_term_length=int(node.params.get("minTermLength", 1)),
        )

    if name == "random":
        # Solr random() stream source: a pseudo-random sample of the
        # match set. Solr reseeds per request; replayable pipelines
        # need determinism, so the seed is explicit (seed="…",
        # default "0" — rerunning the expression returns the same
        # sample; vary the seed to resample: the NOW/now_ms
        # discipline). One md5-keyed TakeOrdered over the decoded
        # match ids — never a global sort, never rand().
        idx = _collection(node, ctx)
        q = node.params.get("q")
        if not isinstance(q, str) or not q.split():
            raise ValueError('random() needs q="term …" (disjunction)')
        rows = int(node.params.get("rows", 10))
        seed = str(node.params.get("seed", "0"))
        field = str(node.params.get("field", "code.content"))
        ids = idx._matched_ids(q.split(), field)
        out = (ids.orderBy(
            F.md5(F.concat_ws(":", F.lit(seed),
                              F.col("doc_id").cast("string"))),
            F.asc("doc_id")).limit(rows))
        fl = [c.strip() for c in str(node.params.get("fl", "")).split(",")
              if c.strip() and c != "doc_id"]
        if fl:
            docs = read_table(idx.spark, idx.path, "docs") \
                .select("doc_id", *fl)
            out = out.join(docs, "doc_id", "left")
        return out

    if name == "shortestPath":
        # Solr shortestPath() stream source: all minimum-hop paths
        # between two nodes over an edge relation — one tuple per
        # path (path array + length), distributed BFS + parent-DAG
        # walk-back in ftidx.graph.shortest_path. The edge set is a
        # bound table or a collection's docs table (the nodes()
        # convention); edge="fromField=toField" names the columns.
        if not node.args or not isinstance(node.args[0], str):
            raise ValueError("shortestPath() needs a collection name first")
        coll = node.args[0]
        if coll in ctx.indexes:
            idx = ctx.indexes[coll]
            edges = read_table(idx.spark, idx.path, "docs")
        elif coll in ctx.tables:
            edges = ctx.tables[coll]
        else:
            raise ValueError(f"unknown collection {coll!r}")
        edge = _req(node, "edge")
        if "=" not in edge:
            raise ValueError('shortestPath() edge must be "fromField=toField"')
        from_col, to_col = (x.strip() for x in edge.split("=", 1))
        for c in (from_col, to_col):
            if c not in edges.columns:
                raise ValueError(f"unknown edge field {c!r}")
        from ftidx.graph import shortest_path

        return shortest_path(
            edges, _req(node, "from"), _req(node, "to"),
            from_col=from_col, to_col=to_col,
            max_depth=int(node.params.get("maxDepth", 10)),
            max_paths=int(node.params.get("maxPaths", 1000)))

    if name == "topic":
        # Solr topic() stream source: checkpointed pub-sub — each
        # evaluation delivers only the docs matching q that arrived
        # since the previous evaluation with the same id (ftidx.topic,
        # at-least-once, epoch-keyed over streamed deltas). First
        # positional arg is the checkpoint COLLECTION name (a
        # subdirectory of ctx.checkpoint_dir — Solr persists topic
        # checkpoints in a collection), second the collection to poll.
        if (len(node.args) < 2 or not isinstance(node.args[0], str)
                or not isinstance(node.args[1], str)):
            raise ValueError(
                'topic() needs (checkpointCollection, collection, '
                'q="…", id="…")')
        if ctx.checkpoint_dir is None:
            raise ValueError(
                "topic() needs a checkpoint_dir bound in the stream "
                "context (where checkpoint collections persist)")
        coll = node.args[1]
        if coll not in ctx.indexes:
            raise ValueError(f"unknown collection {coll!r}")
        idx = ctx.indexes[coll]
        q = node.params.get("q")
        if not isinstance(q, str) or not q.split():
            raise ValueError('topic() needs q="term …" (disjunction)')
        tid = node.params.get("id")
        if not isinstance(tid, str) or not tid:
            raise ValueError('topic() needs id="…" (the subscription)')
        from ftidx.topic import topic_poll

        fl = [c.strip() for c in str(node.params.get("fl", "")).split(",")
              if c.strip()]
        import os as _os

        return topic_poll(
            idx, tid, q.split(),
            _os.path.join(ctx.checkpoint_dir, node.args[0]),
            field=str(node.params.get("field", "code.content")),
            fl=fl or None)

    if name == "update":
        # Solr update() stream decorator: index the inner stream's
        # tuples into the destination collection (add-or-replace by
        # unique key — maintenance.upsert_docs, O(affected buckets)).
        # The inner stream must carry the source schema columns; the
        # write happens AT EVALUATION (Solr's update stream likewise
        # indexes as it is read). batchSize= is accepted and ignored:
        # the write is one Spark job, not a client-side doc loop.
        # Emits one summary tuple (batchIndexed, bucketsRebuilt) —
        # Solr emits one per batch; one job = one batch.
        idx = _collection(node, ctx)
        inner = _eval(_stream_arg(node), ctx)
        n = inner.count()
        from ftidx.maintenance import upsert_docs

        res = upsert_docs(idx.spark, str(idx.path), inner)
        return idx.spark.createDataFrame(
            [(int(n), len(res.get("buckets_rebuilt", [])))],
            "batchIndexed long, bucketsRebuilt long")

    if name == "commit":
        # Solr commit() stream decorator: wrap an update() stream and
        # make its writes visible to readers. upsert writes are
        # already durable+atomic here; the visibility step is
        # refreshing the named collection's handle, so a search() on
        # it later in this context (or on the served handle) sees the
        # new docs — Solr's openSearcher analog.
        idx = _collection(node, ctx)
        out = _eval(_stream_arg(node), ctx)  # update() writes AT eval
        idx.refresh()
        return out

    if name == "daemon":
        # Solr daemon(): register a background re-evaluation loop for
        # the wrapped stream and answer with its status tuple. The
        # daemon lives in ctx.daemons — the serving tier passes ONE
        # shared dict so daemons outlive the request, exactly Solr's
        # server-lifetime daemon map; re-registering an id replaces
        # the old daemon (Solr's put-replaces semantics).
        if ctx.daemons is None:
            raise ValueError(
                "daemon() needs a StreamContext with a daemon registry "
                "(daemons={}) — the serving tier owns one; for library "
                "use pass your own dict and stop() what you start")
        inner = _stream_arg(node)
        did = _req(node, "id")
        try:
            interval = int(node.params.get("runInterval", "1000"))
        except (TypeError, ValueError):
            raise ValueError("runInterval must be an integer (ms)")
        if interval <= 0:
            raise ValueError("runInterval must be > 0 ms")
        term = str(node.params.get("terminate", "false")).lower() == "true"
        old = ctx.daemons.get(did)
        if old is not None:
            # short join: the caller may hold the run_lock the old
            # daemon's in-flight iteration wants — signal it and move
            # on; its loop exits after that iteration
            old.stop(timeout=0.2)
        d = StreamDaemon(did, inner, ctx, interval_ms=interval,
                         terminate=term, run_lock=ctx.run_lock)
        ctx.daemons[did] = d
        d.start()
        spark = _ctx_spark(ctx)
        return spark.createDataFrame(
            [(did, "RUNNING", interval, term)],
            "id string, state string, runInterval long, terminate boolean")

    raise ValueError(f"unsupported stream function {name!r}")


def _ctx_spark(ctx: StreamContext):
    """A SparkSession from whatever the context has bound."""
    for idx in ctx.indexes.values():
        return idx.spark
    for df in ctx.tables.values():
        return df.sparkSession
    raise ValueError("context binds no index or table to take a "
                     "SparkSession from")


_MATH_FNS = {"describe", "mean", "sum", "min", "max", "stddev",
             "variance", "percentile", "corr", "cov", "regress", "hist"}


def _math(node: Node, ctx: StreamContext) -> DataFrame:
    """Solr Math Expressions over bound relations — the Spark-first
    reading: Solr's math functions operate on driver-side numeric
    arrays pulled out of streams; here every function is an
    AGGREGATION over a bound relation's columns (one codegen agg row,
    or a grid-sized groupBy for hist), so the vector never leaves the
    executors. corr/cov/regress accordingly take (relation, xcol,
    ycol) — two columns of ONE relation — because positional alignment
    of two independent distributed streams has no distributed meaning.
    Doubles round to 5 (the repo-wide oracle discipline)."""
    name = node.name
    src = node.args[0] if node.args else None
    if isinstance(src, Node):
        df = _eval(src, ctx)
    elif isinstance(src, str) and src in ctx.tables:
        df = ctx.tables[src]
    else:
        raise ValueError(
            f"{name}() needs a bound variable or stream first")
    cols = [a for a in node.args[1:] if isinstance(a, str)]
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"unknown column {c!r}")

    def one(col):
        if len(cols) != 1:
            raise ValueError(f"{name}() takes exactly one column")
        return F.col(col)

    def two():
        if len(cols) != 2:
            raise ValueError(f"{name}() takes exactly two columns")
        return F.col(cols[0]), F.col(cols[1])

    r5 = lambda e: F.round(e, 5)  # noqa: E731
    if name == "describe":
        c = one(cols[0] if cols else "")
        return df.agg(
            F.count(c).alias("n"), r5(F.mean(c)).alias("mean"),
            r5(F.stddev_samp(c)).alias("stddev"),
            F.min(c).alias("min"), F.max(c).alias("max"),
            r5(F.sum(c)).alias("sum"))
    if name in ("mean", "sum", "min", "max", "stddev", "variance"):
        c = one(cols[0] if cols else "")
        fn = {"mean": F.mean, "sum": F.sum, "min": F.min, "max": F.max,
              "stddev": F.stddev_samp, "variance": F.var_samp}[name]
        return df.agg(r5(fn(c)).alias(name))
    if name == "percentile":
        c = one(cols[0] if cols else "")
        p = float(node.params.get("p", 50)) / 100.0
        if not 0.0 <= p <= 1.0:
            raise ValueError("p must be in [0, 100]")
        return df.agg(r5(F.expr(
            f"percentile(`{cols[0]}`, {p!r})")).alias("percentile"))
    if name in ("corr", "cov"):
        x, y = two()
        fn = F.corr if name == "corr" else F.covar_samp
        return df.agg(r5(fn(x, y)).alias(name))
    if name == "regress":
        # OLS slope/intercept/r2 in ONE agg: slope = cov/var (the
        # samp/pop distinction cancels in the ratio), intercept =
        # mean(y) - slope*mean(x), r2 = corr^2
        x, y = two()
        # try_divide: a constant-x relation yields NULL slope (the
        # OLS-undefined case) instead of ANSI-mode divide-by-zero
        slope = F.try_divide(F.covar_samp(x, y), F.var_samp(x))
        return df.agg(
            r5(slope).alias("slope"),
            r5(F.mean(y) - slope * F.mean(x)).alias("intercept"),
            r5(F.corr(x, y) * F.corr(x, y)).alias("r2"),
            F.count(x).alias("n"))
    if name == "hist":
        # equal-width histogram: the min/max agg is ONE row
        # crossJoined back (broadcast), the bin groupBy is bins-sized;
        # EVERY bin in [0, bins) emits via a driver-built grid (bins
        # is a user parameter, always tiny), count 0 when empty
        c = one(cols[0] if cols else "")
        bins = int(node.params.get("bins", 10))
        if not 1 <= bins <= 10_000:
            raise ValueError("bins must be in [1, 10000]")
        spark = df.sparkSession
        ext = df.agg(F.min(c).cast("double").alias("lo"),
                     F.max(c).cast("double").alias("hi"))
        binned = (
            df.crossJoin(F.broadcast(ext))
            .select(F.when(
                F.col("hi") == F.col("lo"), F.lit(0)
            ).otherwise(F.least(
                F.lit(bins - 1),
                F.floor((c - F.col("lo")) / (F.col("hi") - F.col("lo"))
                        * bins).cast("int"))).alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("count"))
        )
        grid = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
        return (
            grid.join(binned, "bin", "left")
            .crossJoin(F.broadcast(ext))
            .select(
                "bin",
                r5(F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo"))
                   / bins).alias("lo_edge"),
                r5(F.col("lo") + (F.col("bin") + 1)
                   * (F.col("hi") - F.col("lo")) / bins).alias("hi_edge"),
                F.coalesce(F.col("count"), F.lit(0)).alias("count"))
            .orderBy("bin")
        )
    raise ValueError(f"unsupported math function {name!r}")


def _collection(node: Node, ctx: StreamContext):
    """First positional arg as a bound FtIndex collection."""
    if not node.args or not isinstance(node.args[0], str):
        raise ValueError(f"{node.name}() needs a collection name first")
    coll = node.args[0]
    if coll not in ctx.indexes:
        raise ValueError(f"unknown collection {coll!r}")
    return ctx.indexes[coll]


def _apply_fl(idx, df: DataFrame, fl) -> DataFrame:
    """Solr's fl= on a hit stream: join requested stored fields from
    the collection's docs table (column-pruned scan) and project in
    fl order, doc_id/score always leading."""
    if not fl:
        return df
    cols = [c.strip() for c in str(fl).split(",") if c.strip()]
    meta = [c for c in cols if c not in ("doc_id", "score")]
    if meta:
        docs = read_table(idx.spark, idx.path, "docs") \
            .select("doc_id", *meta)
        df = df.join(docs, "doc_id", "left")
    return df.select(*(["doc_id", "score"]
                       + [c for c in cols
                          if c not in ("doc_id", "score")]))


def _date_grid(start: str, end: str, gap: str):
    """Driver-side bucket-start grid for timeseries(): every
    ``start + i·gap`` in [start, end). Month/year steps use the same
    end-of-month clamp as Spark's ``timestamp_add("MONTH", …)`` (Java
    Calendar date math — Jan 31 +1MONTH → Feb 28/29), each step taken
    from START so the clamp never compounds. Bounded: the grid is
    (end-start)/gap entries; above 10_000 the request is refused
    (Solr's facet-range bucket limit discipline) — so this stays a
    KB-sized local relation at any corpus scale."""
    import calendar
    import re
    from datetime import datetime as _dt
    from datetime import timedelta

    m = re.fullmatch(r"\+?(\d+)(SECOND|MINUTE|HOUR|DAY|MONTH|YEAR)S?",
                     gap.strip(), re.IGNORECASE)
    if not m:
        raise ValueError(f"bad gap {gap!r} — use Solr date math like "
                         "+1DAY, +7HOUR, +2MONTH")
    n, unit = int(m.group(1)), m.group(2).upper()
    if n < 1:
        raise ValueError("gap must be at least 1 unit")
    try:
        s_dt = _dt.fromisoformat(str(start))
        e_dt = _dt.fromisoformat(str(end))
    except ValueError as exc:
        raise ValueError(f"bad start/end date: {exc}") from None
    if s_dt >= e_dt:
        raise ValueError(f"start {start!r} must precede end {end!r}")

    secs = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}
    out = []
    i = 0
    while True:
        if unit in secs:
            b = s_dt + timedelta(seconds=i * n * secs[unit])
        else:
            months = i * n * (12 if unit == "YEAR" else 1)
            y = s_dt.year + (s_dt.month - 1 + months) // 12
            mo = (s_dt.month - 1 + months) % 12 + 1
            d = min(s_dt.day, calendar.monthrange(y, mo)[1])
            b = s_dt.replace(year=y, month=mo, day=d)
        if b >= e_dt:
            return out
        out.append(b)
        i += 1
        if i > 10_000:
            raise ValueError(
                "timeseries grid exceeds 10000 buckets — widen the gap")


def _stream_arg(node: Node) -> Node:
    streams = [a for a in node.args if isinstance(a, Node)
               and a.name not in _BOOL_OPS and a.name not in _METRICS]
    if len(streams) != 1:
        raise ValueError(f"{node.name}() needs exactly one input stream")
    return streams[0]


def _req(node: Node, key: str) -> str:
    v = node.params.get(key)
    if not isinstance(v, str) or not v:
        raise ValueError(f"{node.name}() needs {key}=")
    return v
