"""The closed-loop workloads and the calls they make into the engine.

One client sends the next op only after the last one returned.  Each
workload prepares its inputs and oracle (not timed), sets up its state
several times (timed; the median is ``setup_s``), runs WARM_OPS untimed
ops, then runs ops until the run's seconds are spent.  Every op's result
is checked against an independent replay after it is timed.

Only these engine entry points are called: ``build_index``,
``write_index``, ``load_index``, ``bm25_topk``, ``bm25_topk_batch``, the
``ingest`` module's functions and the ``dml`` module's functions.  The
checkpoint/resume build path is not measured.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from terrier_spark import corpus, oracle
from terrier_spark.operators import compress, index_build, score
from terrier_spark.sources import dml
from terrier_spark.streaming import ingest

from perfbench import checks, inputs
from perfbench.tracing import dir_files, new_files

TOPK = 10
LAYERS = (
    "index_build.build_index", "index_build.write_index",
    "score.bm25_topk", "score.bm25_topk_batch",
    "ingest.ingest_batch", "ingest.open_live_index", "ingest.compact",
    "dml.merge_upsert", "dml.update_where", "dml.delete_where",
)
COMPRESS_QUERIES = 64  # the first queries of a run probe the codec
MISSED_MS = 1e9  # latency charged to a failed op: it misses every limit


class Ctx:
    """What every workload shares: the session (set once the measured
    session starts), the run's scratch dir, the document pool, the seed
    and the tracer."""

    def __init__(self, work: str, pool: str, seed: int, tracer):
        self.spark = None
        self.work, self.pool = work, pool
        self.seed, self.tracer = seed, tracer

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def chunk_paths(self, chunks) -> list[str]:
        return [os.path.join(self.pool, f"chunk-{c:05d}.parquet") for c in chunks]

    def docs(self, chunks):
        return self.spark.read.parquet(*self.chunk_paths(chunks))

    def oracle_for(self, chunks) -> tuple[oracle.OracleIndex, int]:
        """The oracle index of the chunks' documents, and their content
        bytes."""
        t = ds.dataset(self.chunk_paths(chunks), format="parquet").to_table(
            columns=["doc_id", "content"]
        )
        index = oracle.build_index(
            list(zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist()))
        )
        return index, int(pc.sum(pc.binary_length(t.column("content"))).as_py())


def pool_path(cache_dir: str) -> str:
    return os.path.join(cache_dir, f"pool-{inputs.CHUNK_DOCS}x{inputs.POOL_CHUNKS}")


def ensure_pool(spark, pool: str) -> None:
    """Generate the document pool at ``pool`` unless it is there: chunk
    c holds corpus documents [c*CHUNK_DOCS, (c+1)*CHUNK_DOCS) with their
    sha256 doc ids.  It is made once per checkout and reused by every
    run."""
    if os.path.isdir(pool):
        return
    tmp = f"{pool}.tmp-{os.getpid()}"
    n = inputs.CHUNK_DOCS * inputs.POOL_CHUNKS

    def gen(batches):
        for b in batches:
            yield corpus._rows_pdf(b["id"].to_numpy())

    (
        spark.range(0, n, numPartitions=inputs.POOL_CHUNKS)
        .mapInPandas(gen, schema=corpus.CORPUS_SCHEMA)
        .withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
        .write.parquet(tmp)
    )
    # spark.range gives partition c the ids of chunk c, written as part-c
    for f in os.listdir(tmp):
        if f.startswith("part-") and f.endswith(".parquet"):
            c = int(f.split("-")[1])
            os.rename(os.path.join(tmp, f), os.path.join(tmp, f"chunk-{c:05d}.parquet"))
    if len([f for f in os.listdir(tmp) if f.startswith("chunk-")]) != inputs.POOL_CHUNKS:
        raise RuntimeError("document pool is incomplete")
    try:
        os.rename(tmp, pool)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(size for size, _ in dir_files(path).values())


def changed_bytes(before: dict, path: str) -> int:
    """Bytes of the files under ``path`` created or rewritten since the
    ``before`` snapshot."""
    after = dir_files(path)
    return sum(after[p][0] for p in new_files(before, after))


# --- traced calls -----------------------------------------------------
# Each helper is one call into one engine layer, spanned under the
# layer's name; results are forced inside the span.


def build(ctx: Ctx, docs):
    with ctx.tracer.span("index_build.build_index"):
        return index_build.build_index(docs)


def write(ctx: Ctx, idx, out: str, docs) -> None:
    with ctx.tracer.span("index_build.write_index"):
        index_build.write_index(idx, out, fingerprint_docs=docs)
    if ctx.tracer.on:
        ctx.tracer.add("index_build.write_index.bytes_written", dir_bytes(out))


def topk(ctx: Ctx, idx, query: str, postings: int) -> list[tuple[str, float]]:
    """``postings`` is the query's Σdf."""
    with ctx.tracer.span("score.bm25_topk"):
        rows = score.bm25_topk(idx, query, TOPK).collect()
    ctx.tracer.add("score.bm25_topk.postings", postings)
    return [(r["doc_id"], float(r["score"])) for r in rows]


def topk_batch(ctx: Ctx, idx, queries: dict[str, str]) -> dict[str, list]:
    with ctx.tracer.span("score.bm25_topk_batch"):
        rows = score.bm25_topk_batch(idx, queries, TOPK).collect()
    out: dict[str, list] = {q: [] for q in queries}
    for r in rows:
        out[r["qid"]].append((int(r["rank"]), r["doc_id"], float(r["score"])))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def ingest_batch(ctx: Ctx, docs, batch_id: int, live: str) -> int:
    before = dir_files(live) if ctx.tracer.on else None
    with ctx.tracer.span("ingest.ingest_batch"):
        n = ingest.ingest_batch(docs, batch_id, live)
    if ctx.tracer.on:
        ctx.tracer.add("ingest.ingest_batch.bytes_written", changed_bytes(before, live))
    return n


def open_live(ctx: Ctx, live: str, segments: int):
    with ctx.tracer.span("ingest.open_live_index"):
        idx = ingest.open_live_index(ctx.spark, live)
    ctx.tracer.add("ingest.open_live_index.segments", segments)
    return idx


def compact(ctx: Ctx, live: str) -> None:
    before = dir_files(live) if ctx.tracer.on else None
    with ctx.tracer.span("ingest.compact"):
        ingest.compact(ctx.spark, live)
    if ctx.tracer.on:
        ctx.tracer.add("ingest.compact.bytes_rewritten", changed_bytes(before, live))
    # Unreferenced segments go at once: this client is the only reader.
    ingest.vacuum(live, min_age_s=0)


def install_nested_spans(ctx: Ctx) -> None:
    """Span the build and write that ingest_batch and compact make
    inside the ingest module, under the same layer names as direct
    calls."""
    tr = ctx.tracer
    build_index, write_index = ingest.build_index, ingest.write_index

    def traced_build(*args, **kwargs):
        with tr.span("index_build.build_index"):
            return build_index(*args, **kwargs)

    def traced_write(index, out_dir, *args, **kwargs):
        with tr.span("index_build.write_index"):
            write_index(index, out_dir, *args, **kwargs)
        tr.add("index_build.write_index.bytes_written", dir_bytes(out_dir))

    tr.patch(ingest, "build_index", traced_build)
    tr.patch(ingest, "write_index", traced_write)


def run_dml(ctx: Ctx, path: str, op: dict) -> int | None:
    """One DmlScript op against the table at ``path``; returns the
    engine's count of rows deleted or updated (None for a merge)."""
    spark, tr = ctx.spark, ctx.tracer
    keys = F.col("o_orderkey").isin(op["keys"])
    before = dir_files(path) if tr.on else None
    if op["kind"] == "delete":
        with tr.span("dml.delete_where"):
            n = dml.delete_where(spark, path, keys)
    elif op["kind"] == "merge":
        with tr.span("dml.merge_upsert"):
            dml.merge_upsert(spark, path, spark.createDataFrame(op["rows"]), ["o_orderkey"])
        n = None
    else:
        with tr.span("dml.update_where"):
            n = dml.update_where(
                spark, path, keys,
                {
                    "o_totalprice": F.col("o_totalprice") + F.lit(op["delta"]),
                    "o_comment": F.lit(op["comment"]),
                },
            )
    if tr.on:
        after = dir_files(path)
        tr.add("dml.rows_rewritten", sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in new_files(before, after)
            if f.endswith(".parquet")
        ))
    return n


def dml_matches_replay(ctx: Ctx, path: str, op: dict, n: int | None, replay) -> bool:
    """Apply ``op`` to the pandas replay and compare: the engine's
    returned count, then the table's row count and checksum."""
    changed = replay.apply(op)
    ctx.tracer.add("dml.rows_changed", changed)
    if n is not None and n != changed:
        return False
    table = ds.dataset(path, format="parquet").to_table().to_pandas()
    cols = inputs.ORDERS_COLUMNS
    return checks.table_checksum(table, cols) == replay.checksum(cols)


# --- checks on written indexes ----------------------------------------


def index_matches_oracle(out: str, oc: oracle.OracleIndex) -> bool:
    """Collection stats, lexicon (df and cf of every term) and docmap
    size of a written index against the oracle."""
    with open(os.path.join(out, "stats.json")) as f:
        stats = json.load(f)
    if stats["num_docs"] != oc.num_docs or stats["num_tokens"] != oc.num_tokens:
        return False
    lex = ds.dataset(os.path.join(out, "lexicon"), format="parquet").to_table()
    got = dict(zip(lex.column("term").to_pylist(), zip(
        lex.column("df").to_pylist(), lex.column("cf").to_pylist())))
    if got != {t: (oc.df[t], oc.cf[t]) for t in oc.df}:
        return False
    docmap = ds.dataset(os.path.join(out, "docmap"), format="parquet")
    return docmap.count_rows() == oc.num_docs


# --- workloads --------------------------------------------------------


class Workload:
    """Closed-loop bookkeeping shared by the workloads: op latencies,
    work items, busy time and failures."""

    # Ops run before timing starts: the first op of each kind runs
    # plans and kernels the set-up did not, at up to 3x the steady cost.
    WARM_OPS = 1
    # True if write_inputs() needs Spark: it then runs in a session of
    # its own, stopped before the measured session starts.
    SPARK_INPUTS = False

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lat_ms: list[float] = []
        self.items = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.index_dir: str | None = None  # an index for the compress probe
        self.queries: list[str] = []
        self.content_bytes = 0

    def write_inputs(self, spark) -> None:
        pass

    def can_stop(self) -> bool:
        return True

    def start_timing(self) -> None:
        """Forget the warm-up ops' timings (their checks still count)."""
        self.lat_ms, self.items, self.busy_s = [], 0, 0.0

    def fail(self, latency: bool = True) -> None:
        self.failed += 1
        if latency:
            self.lat_ms.append(MISSED_MS)


class Build(Workload):
    """Each op: build_index over the slice, write_index with the content
    fingerprint sidecar, release."""

    CHUNKS = 12
    WARM_CHUNKS = 2

    def prepare(self):
        ctx = self.ctx
        self.chunks = inputs.chunk_slice(ctx.seed, self.CHUNKS, "build.slice")
        self.oc, self.content_bytes = ctx.oracle_for(self.chunks)
        self.queries = inputs.query_stream(ctx.seed, self.oc.df, self.oc.num_docs, 3)
        self.n_ops = 0

    def setup(self, rep: int) -> float:
        # DataFrames belong to the measured session, which starts after
        # prepare().
        self.docs = self.ctx.docs(self.chunks)
        warm = self.ctx.docs(self.chunks[: self.WARM_CHUNKS])
        out = self.ctx.path(f"build-warm-{rep}")
        t = time.perf_counter()
        idx = index_build.build_index(warm)
        index_build.write_index(idx, out, fingerprint_docs=warm)
        idx.release()
        dt = time.perf_counter() - t
        shutil.rmtree(out)
        return dt

    def step(self):
        ctx = self.ctx
        out = ctx.path(f"build-{self.n_ops}")
        self.n_ops += 1
        self.attempted += 1
        t = time.perf_counter()
        try:
            idx = build(ctx, self.docs)
            write(ctx, idx, out, self.docs)
            idx.release()
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            self.fail()
            return
        dt = time.perf_counter() - t
        self.busy_s += dt
        self.items += self.oc.num_docs
        if index_matches_oracle(out, self.oc):
            self.lat_ms.append(dt * 1000)
        else:
            self.fail()
        if self.index_dir:
            shutil.rmtree(self.index_dir)
        self.index_dir = out

    def finish(self):
        # The last written index must also answer queries like the oracle.
        if self.index_dir:
            idx = index_build.load_index(self.ctx.spark, self.index_dir)
            for q in self.queries:
                got = [
                    (r["doc_id"], float(r["score"]))
                    for r in score.bm25_topk(idx, q, TOPK).collect()
                ]
                if not checks.topk_matches_oracle(got, self.oc, q, TOPK):
                    self.fail(latency=False)
                    break
        return dir_bytes(self.index_dir) if self.index_dir else 0


class Search(Workload):
    """Single bm25_topk queries over a written and re-loaded index; ops
    1, 1 + BATCH_EVERY, ... are a bm25_topk_batch of BATCH_QUERIES
    queries instead, so the warm-up runs a batch too.  The timed ops are
    whole cycles of BATCH_EVERY ops."""

    CHUNKS = 16
    BATCH_EVERY = 8
    BATCH_QUERIES = 20
    WARM_OPS = 4
    SPARK_INPUTS = True

    def prepare(self):
        ctx = self.ctx
        self.chunks = inputs.chunk_slice(ctx.seed, self.CHUNKS, "search.slice")
        self.oc, self.content_bytes = ctx.oracle_for(self.chunks)
        self.queries = inputs.query_stream(ctx.seed, self.oc.df, self.oc.num_docs, 4000)
        self.n_ops = 0
        self.next_q = 0
        self.results: list[tuple[str, list]] = []
        self.index_dir = ctx.path("search-index")

    def write_inputs(self, spark):
        """The served index is an input, written once: set-up is opening
        it."""
        docs = spark.read.parquet(*self.ctx.chunk_paths(self.chunks))
        idx = index_build.build_index(docs)
        index_build.write_index(idx, self.index_dir, fingerprint_docs=docs)
        idx.release()

    def setup(self, rep: int) -> float:
        """Open the index from parquet (so it is not served from Spark's
        cache) and answer a first query."""
        t = time.perf_counter()
        self.index = index_build.load_index(self.ctx.spark, self.index_dir)
        score.bm25_topk(self.index, self.queries[-1], TOPK).collect()
        return time.perf_counter() - t

    def can_stop(self) -> bool:
        # whole op cycles only (7 singles, 1 batch), so the share of batch
        # queries in items_per_s is the same in every run
        return (self.n_ops - self.WARM_OPS) % self.BATCH_EVERY == 0

    def _take(self, n: int) -> list[str]:
        qs = [self.queries[(self.next_q + i) % len(self.queries)] for i in range(n)]
        self.next_q += n
        return qs

    def step(self):
        ctx = self.ctx
        self.n_ops += 1
        batch = self.n_ops % self.BATCH_EVERY == 1
        qs = self._take(self.BATCH_QUERIES if batch else 1)
        self.attempted += 1
        t = time.perf_counter()
        try:
            if batch:
                got = topk_batch(ctx, self.index, {f"q{i}": q for i, q in enumerate(qs)})
                pairs = [(q, got[f"q{i}"]) for i, q in enumerate(qs)]
            else:
                pairs = [(qs[0], topk(ctx, self.index, qs[0], checks.postings_of(self.oc, qs[0])))]
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            self.fail(latency=not batch)
            return
        dt = time.perf_counter() - t
        self.busy_s += dt
        self.items += len(qs)
        if not batch:
            self.lat_ms.append(dt * 1000)
        self.results.append((batch, pairs))

    def finish(self):
        for batch, pairs in self.results:
            if not all(checks.topk_matches_oracle(g, self.oc, q, TOPK) for q, g in pairs):
                self.fail(latency=False)
                if not batch:  # a wrong answer misses every latency limit
                    self.lat_ms.append(MISSED_MS)
        return dir_bytes(self.index_dir)


class Dml(Workload):
    """Keyed delete_where / merge_upsert / update_where ops from a
    DmlScript against an orders-shaped parquet table, each checked
    against a pandas replay (row count and checksum)."""

    ROWS = 150_000
    WARM_OPS = 9  # three delete, merge, update cycles

    def prepare(self):
        ctx = self.ctx
        table = inputs.orders_table(ctx.seed, self.ROWS)
        self.source = ctx.path("orders-source")
        os.makedirs(self.source)
        pq.write_table(
            pa.Table.from_pandas(table, preserve_index=False),
            os.path.join(self.source, "part-0.parquet"),
        )
        self.script = inputs.DmlScript(ctx.seed, self.ROWS)
        self.replay = checks.DmlReplay(table, "o_orderkey")
        self.content_bytes = int(
            sum(table[c].str.len().sum() if table[c].dtype == object else 8 * len(table)
                for c in inputs.ORDERS_COLUMNS)
        )
        self.table = None

    def setup(self, rep: int) -> float:
        path = self.ctx.path(f"orders-{rep}")
        t = time.perf_counter()
        dml.create_table(self.ctx.spark.read.parquet(self.source), path)
        dt = time.perf_counter() - t
        if self.table:
            shutil.rmtree(self.table)
        self.table = path
        return dt

    def step(self):
        op = self.script.next_op()
        self.attempted += 1
        t = time.perf_counter()
        try:
            n = run_dml(self.ctx, self.table, op)
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc()
            self.fail()
            return
        dt = time.perf_counter() - t
        self.busy_s += dt
        self.items += 1
        if dml_matches_replay(self.ctx, self.table, op, n, self.replay):
            self.lat_ms.append(dt * 1000)
        else:
            self.fail()

    def finish(self):
        return dir_bytes(self.table)


WORKLOADS = {"build": Build, "search": Search, "dml": Dml}


# --- traced-run extras ------------------------------------------------


def tour(ctx: Ctx, wl: Workload) -> None:
    """Call, once each on small inputs, every layer the workload's loop
    did not reach, so a traced run reports every layer.  Results are
    checked like the loop's."""
    tr = ctx.tracer
    missing = {l for l in LAYERS if tr.calls(l) == 0}
    if not missing:
        return
    tr.freeze()  # the loop's layers keep the loop's figures
    chunks = inputs.chunk_slice(ctx.seed, 3, "tour.slice")
    if missing & {l for l in LAYERS if l.startswith(("index_build.", "score."))}:
        oc, _ = ctx.oracle_for(chunks[:1])
        docs = ctx.docs(chunks[:1])
        out = ctx.path("tour-index")
        idx = build(ctx, docs)
        write(ctx, idx, out, docs)
        idx.release()
        idx = index_build.load_index(ctx.spark, out)
        qs = inputs.query_stream(ctx.seed, oc.df, oc.num_docs, 5)
        wl.attempted += 2
        got = topk(ctx, idx, qs[0], checks.postings_of(oc, qs[0]))
        if not checks.topk_matches_oracle(got, oc, qs[0], TOPK):
            wl.failed += 1
        got = topk_batch(ctx, idx, {f"q{i}": q for i, q in enumerate(qs)})
        if not all(checks.topk_matches_oracle(got[f"q{i}"], oc, q, TOPK) for i, q in enumerate(qs)):
            wl.failed += 1
        if wl.index_dir is None:
            wl.index_dir, wl.queries = out, qs
    if missing & {l for l in LAYERS if l.startswith("ingest.")}:
        live = ctx.path("tour-live")
        for i, c in enumerate(chunks[1:]):
            ingest_batch(ctx, ctx.docs([c]), i, live)
        oc, _ = ctx.oracle_for(chunks[1:])
        idx = open_live(ctx, live, 2)
        q = inputs.query_stream(ctx.seed, oc.df, oc.num_docs, 1)[0]
        wl.attempted += 1
        if not checks.topk_matches_oracle(topk(ctx, idx, q, checks.postings_of(oc, q)), oc, q, TOPK):
            wl.failed += 1
        compact(ctx, live)
    if missing & {l for l in LAYERS if l.startswith("dml.")}:
        rows = 2000
        table = inputs.orders_table(ctx.seed, rows)
        path = ctx.path("tour-orders")
        dml.create_table(ctx.spark.createDataFrame(table), path)
        script = inputs.DmlScript(ctx.seed, rows)
        replay = checks.DmlReplay(table, "o_orderkey")
        for _ in range(3):
            op = script.next_op()
            wl.attempted += 1
            n = run_dml(ctx, path, op)
            if not dml_matches_replay(ctx, path, op, n, replay):
                wl.failed += 1


def compress_rates(index_dir: str, queries: list[str], min_s: float = 0.3) -> tuple[float, float]:
    """(decoded, encoded) postings per second of
    ``compress.decode_posting_list`` and ``compress.vbyte_encode_raw``
    over the blocks holding the query set's terms."""
    terms = sorted({t for q in queries for t in oracle.tokenize(q)})
    blocks = ds.dataset(os.path.join(index_dir, "blocks"), format="parquet").to_table(
        columns=["docno_blob", "tf_blob"], filter=pc.field("term").isin(terms)
    )
    blobs = list(zip(
        [bytes(b) for b in blocks.column("docno_blob").to_pylist()],
        [bytes(b) for b in blocks.column("tf_blob").to_pylist()],
    ))
    if not blobs:
        raise RuntimeError("query terms hit no blocks")

    def timed(fn):
        n, passes, t = 0, 0, time.perf_counter()
        while passes == 0 or time.perf_counter() - t < min_s:
            n += fn()
            passes += 1
        return n / (time.perf_counter() - t)

    decoded = [compress.decode_posting_list(d, f) for d, f in blobs]

    def decode():
        return sum(len(compress.decode_posting_list(d, f)[0]) for d, f in blobs)

    def encode():
        n = 0
        for docnos, tfs in decoded:
            compress.vbyte_encode_raw(compress.delta_encode(docnos))
            compress.vbyte_encode_raw(tfs)
            n += len(docnos)
        return n

    return timed(decode), timed(encode)
