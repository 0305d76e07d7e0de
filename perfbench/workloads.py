"""The benchmark's workloads, their correctness checks and their layer probes.

Each workload function takes a `Ctx`, runs against the engine's public API
and fills `ctx.e2e` (the end-to-end metrics of BENCHMARK.json),
`ctx.report` (the named metrics of the README tables, with their units)
and, in traced runs, `ctx.layers`.  Repetition counts come from `Sizes`
scaled by `--seconds`; nothing stops early or repeats on a result.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass

import gen
import host

K_TOP = 10
NOMINAL_SECONDS = 10
DIST_WARM = 2  # untimed distributed queries before the timed ones
OVERHEAD_QUERIES = 60  # queries per pass of `trace_overhead`
REF_EVERY = 5  # timed serving queries per pass of `host.SpeedRef`
REF_PER_BUILD = 4  # `host.SpeedRef` passes before each timed full build
# CPU ms of one `host.SpeedRef` pass at the reference host speed, to which
# the gated serving CPU and indexing throughput are scaled (`slowness`);
# about the median pass on a 4-vCPU Xeon VM with 15 GB
REF_CPU_MS = 30.0


@dataclass(frozen=True)
class Sizes:
    """Input sizes, and repetition counts for a run of NOMINAL_SECONDS;
    `Ctx.n` scales the counts linearly with `--seconds`."""
    corpus_convs: int        # build_serve corpus
    n_splits: int            # row groups = planned splits = segments
    builds_local4: int       # timed full builds at local[4]
    serve_1client: int       # queries, 1 client
    serve_4threads: int      # queries, 4 client threads
    ingest_base_convs: int
    ingest_commits: int
    ingest_commit_convs: int
    ingest_queries_per_commit: int
    dist_queries: int        # timed distributed single queries
    dist_batches: int        # timed distributed batches
    batch_size: int
    taat_queries: int
    setup_reps: int


FULL = Sizes(corpus_convs=2500, n_splits=8, builds_local4=8,
             serve_1client=300, serve_4threads=60, ingest_base_convs=400,
             ingest_commits=3, ingest_commit_convs=100,
             ingest_queries_per_commit=100, dist_queries=3, dist_batches=1,
             batch_size=128, taat_queries=1, setup_reps=3)
SMOKE = Sizes(corpus_convs=240, n_splits=4, builds_local4=1,
              serve_1client=60, serve_4threads=60, ingest_base_convs=60,
              ingest_commits=2, ingest_commit_convs=20,
              ingest_queries_per_commit=5, dist_queries=1, dist_batches=1,
              batch_size=16, taat_queries=1, setup_reps=2)


class Ctx:
    def __init__(self, seed: int, seconds: int, trace: bool, work: str,
                 sizes: Sizes, tracer):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.sizes = sizes
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.records: dict[str, object] = {}
        self.spark_counts: dict[str, list[dict]] = {}
        self.measure_spans: list = []
        self.cpu: dict[str, list[float]] = {}

    def n(self, base: int, least: int = 1) -> int:
        """A repetition count of `Sizes`, scaled to `--seconds`."""
        return max(least, round(base * self.seconds / NOMINAL_SECONDS))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed: {detail}")
        return ok

    def attempt(self, name: str, fn, *args, **kwargs):
        """One counted operation: an exception is a failure, not a crash."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - counted and reported
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")
            return None

    def count(self, kind: str, counts: dict) -> None:
        self.spark_counts.setdefault(kind, []).append(counts)

    @contextlib.contextmanager
    def measure(self, name: str):
        """A measured phase: per-layer metrics come from its spans only.
        The host's CPU steal during the phase goes to the record."""
        s0, t0 = host.cpu_steal()
        with self.tracer.span(name) as rec:
            self.measure_spans.append(rec)
            yield rec
        s1, t1 = host.cpu_steal()
        self.records.setdefault("steal_pct", {})[name] = round(
            100.0 * (s1 - s0) / max(t1 - t0, 1), 2)

    def phases(self, *names: str) -> list:
        return [s for s in self.measure_spans if s[2] in names]


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

def index_config():
    from tantivy_spark.config import IndexConfig

    # positions on: the serving stream includes phrase queries
    return IndexConfig(positions=True, n_term_buckets=8)


def write_corpus(table, path: str, n_splits: int) -> None:
    """Parquet with `n_splits` row groups; `split_bytes=1` below turns each
    row group into its own planned split, so the split count (and thus the
    segment count) is fixed by the input, not by the core count."""
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path,
                   row_group_size=-(-table.num_rows // n_splits))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def build(ctx: Ctx, spark, src: str, idx: str, counter, kind: str):
    from tantivy_spark.operators import build as B

    shutil.rmtree(idx, ignore_errors=True)
    c = host.tree_cpu_s()
    t = time.perf_counter()
    manifest, counts = counter.run(B.build_index_direct, spark, src, idx,
                                   index_config(), split_bytes=1)
    wall = time.perf_counter() - t
    ctx.count(kind, counts)
    ctx.cpu.setdefault(kind, []).append(host.tree_cpu_s() - c)
    return manifest, wall


def check_manifest(ctx: Ctx, name: str, manifest: dict, n_turns: int,
                   tokens_ref: list) -> None:
    """Doc count equals the generated turns; the token total is the same
    for every build of the run (one seed, one corpus)."""
    ctx.check(f"{name}.total_docs", manifest["total_docs"] == n_turns,
              f"{manifest['total_docs']} != {n_turns}")
    tok = manifest["total_tokens"]
    if not tokens_ref:
        tokens_ref.append(tok)
    ctx.check(f"{name}.total_tokens", tok == tokens_ref[0],
              f"{tok} != {tokens_ref[0]}")


def topk_tuples(frame) -> list[tuple[int, int, float]]:
    """(segment, doc, f32 score) rows of a pandas top-k frame, in order."""
    import numpy as np

    return [(int(s), int(d), float(np.float32(sc))) for s, d, sc in zip(
        frame["segment_ord"], frame["doc_id"], frame["score"])]


def spark_rows(rows) -> list[tuple[int, int, float]]:
    import numpy as np

    return [(int(r["segment_ord"]), int(r["doc_id"]),
             float(np.float32(r["score"]))) for r in rows]


# the end-to-end metrics of BENCHMARK.json and their units
UNITS = {"setup_s": "s", "index_turns_per_s_at_ref": "1/s",
         "serve_cpu_ms_at_ref": "ms",
         "index_bytes_per_text_byte": "ratio", "rss_mb": "MB"}


def set_end_to_end(ctx: Ctx, **values: float) -> None:
    for k, v in values.items():
        ctx.e2e[k] = (v, UNITS[k])


def ms(seconds: list[float]) -> list[float]:
    return [x * 1e3 for x in seconds]


def new_speed_ref(ctx: Ctx) -> host.SpeedRef:
    ref = host.SpeedRef(ctx.work)
    for _ in range(2):  # imports and the first scan's set-up, untimed
        ref.run()
    ref.cpu_s.clear()
    return ref


def run_speed_ref(ctx: Ctx, ref: host.SpeedRef, passes: int = 1) -> None:
    with ctx.tracer.span("speed_ref"):
        for _ in range(passes):
            ref.run()


def slowness(ref_cpu_s: list[float]) -> float:
    """How much slower the host ran than the reference speed: the median
    CPU time of the `host.SpeedRef` passes timed among a phase's
    operations over REF_CPU_MS.  On a shared host the speed of a core
    drifts by tens of percent over minutes; the interleaved reference
    passes drift with it, and the program's code does not move them."""
    return statistics.median(ref_cpu_s) * 1e3 / REF_CPU_MS


def layer_floor(ctx: Ctx, spark) -> None:
    counter = host.JobCounter(spark)
    with ctx.measure("measure.job_floor"):
        floors = counter.job_floor_ms(5)
    ctx.layers["session.job_floor_ms"] = statistics.median(floors)


# --------------------------------------------------------------------------
# build_serve
# --------------------------------------------------------------------------

def build_serve(ctx: Ctx) -> None:
    """Repeated `build_index_direct` of one generated corpus at local[4],
    one more at local[1] in a restarted session, then (Spark stopped) a
    serving query stream answered by a Spark-free reader process over the
    built index: 1 client, then 4 client threads (`serve_phases`)."""
    sz = ctx.sizes
    tr = ctx.tracer
    n1 = ctx.n(sz.serve_1client, 10)
    n4 = ctx.n(sz.serve_4threads, 10)
    with tr.span("inputs"):
        corpus = gen.transcripts(ctx.seed, 0, sz.corpus_convs)
        n_turns = corpus.num_rows
        tbytes = gen.text_bytes(corpus)
        src = ctx.path("input", "corpus.parquet")
        write_corpus(corpus, src, sz.n_splits)
        one_split = ctx.path("input", "one_split.parquet")
        write_corpus(corpus.slice(0, -(-n_turns // sz.n_splits)),
                     one_split, 1)
        del corpus
        # one stream per load phase; the reader process (`serve_proc`)
        # draws the same two from the seed, the traced probes use them here
        stream1 = gen.query_stream(ctx.seed, 1, n1, gen.MIXES["serve"])
        stream4 = gen.query_stream(ctx.seed, 4, n4, gen.MIXES["serve"])
    idx = ctx.path("index")
    ref = new_speed_ref(ctx)
    tokens_ref: list = []
    setups, walls4, walls1 = [], [], []
    spark = None
    for cores in (4, 1):
        with tr.span("setup", cores=cores):
            t = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = host.start_spark(cores)
            counter = host.JobCounter(spark)
            counter.job_floor_ms(1)
            # the first build of a session pays the Python-worker start; at
            # one core a one-split build is enough to start the worker
            build(ctx, spark, src if cores == 4 else one_split, idx,
                  counter, "warm_build")
            setups.append(time.perf_counter() - t)
        with ctx.measure(f"measure.local{cores}"):
            for _ in range(ctx.n(sz.builds_local4) if cores == 4 else 1):
                if cores == 4:
                    run_speed_ref(ctx, ref, REF_PER_BUILD)
                manifest, wall = build(ctx, spark, src, idx, counter,
                                       f"build_local{cores}")
                (walls4 if cores == 4 else walls1).append(wall)
                check_manifest(ctx, f"build_local{cores}", manifest,
                               n_turns, tokens_ref)
    ctx.check("build.segments", len(manifest["segments"]) == sz.n_splits,
              f"{len(manifest['segments'])} segments")
    with tr.span("probe"):
        if ctx.trace:
            layer_floor(ctx, spark)
            probe_build_splits(ctx, src, 2)
    with tr.span("teardown"):
        spark.stop()
        host.shutdown_jvm()

    with tr.span("serve_proc"):
        sv = serve_proc(ctx, idx, "serve", 1, n1, n4, ctx.trace, True)
    lat1, cpu1 = sv["lat1"], sv["cpu1"]
    if ctx.trace:
        with tr.span("probe"):
            shared_reader_probe(ctx, idx,
                                [q for _, q in stream1 + stream4])
            trace_overhead(ctx, idx, [q for _, q in stream1])

    t4 = statistics.median(walls4)
    t1 = statistics.median(walls1)
    ibytes = dir_bytes(idx)
    p50 = statistics.median(lat1) * 1e3
    ctx.records.update(build_local4_s=host.summary(walls4),
                       build_local1_s=host.summary(walls1),
                       setup_s=host.summary(setups),
                       serve_1client_ms=host.summary(ms(lat1)),
                       serve_4threads_ms=host.summary(ms(sv["lat4"])),
                       serve_4threads_wall_s=sv["wall4"],
                       serve_1client_cpu_ms=host.summary(ms(cpu1)),
                       speed_ref_build_cpu_ms=host.summary(ms(ref.cpu_s)),
                       speed_ref_serve_cpu_ms=host.summary(
                           ms(sv["ref_cpu"])),
                       serve_4threads_cpu_s=sv["cpu4"],
                       build_local4_cpu_s=host.summary(
                           ctx.cpu["build_local4"]),
                       build_local1_cpu_s=host.summary(
                           ctx.cpu["build_local1"]),
                       n_turns=n_turns, text_bytes=tbytes,
                       total_tokens=tokens_ref[0], index_bytes=ibytes)
    set_end_to_end(ctx, setup_s=statistics.median(setups),
                   index_turns_per_s_at_ref=n_turns / t4 * slowness(
                       ref.cpu_s),
                   serve_cpu_ms_at_ref=statistics.median(cpu1) * 1e3
                   / slowness(sv["ref_cpu"]),
                   index_bytes_per_text_byte=ibytes / tbytes,
                   rss_mb=sv["rss_mb"])
    ctx.report.update(
        build_turns_per_s=(n_turns / t4, "turns/s"),
        build_mb_per_s=(tbytes / t4 / 1e6, "MB/s"),
        build_scaling_eff=(t1 / t4 / 4, "ratio"),
        build_local1_s=(t1, "s"),
        index_bytes_per_text_byte=(ibytes / tbytes, "ratio"),
        serve_p50_ms=(p50, "ms"),
        serve_p99_ms=(host.percentile(ms(lat1), 99), "ms"),
        serve_queries_per_cpu_s=(n1 / sum(cpu1), "1/s"),
        serve_cpu_ms_raw=(statistics.median(cpu1) * 1e3, "ms"),
        serve_qps_4t=(n4 / sv["wall4"], "queries/s"),
        serve_rss_mb=(sv["rss_mb"], "MB"))
    if ctx.trace:
        segs = sorted(s["n_docs"] for s in manifest["segments"])
        ctx.layers["build.split_docs_max_over_median"] = (
            segs[-1] / statistics.median(segs))
        build_layers(ctx, "build_local4")


def run_threads(ctx: Ctx, readers: list, queries: list, phase,
                call) -> tuple[float, list[float]]:
    """Closed loop: each client thread, one per reader in `readers`, sends
    its next query when its previous answer arrived; `call(reader, i,
    query)` answers it.  Returns the wall time of all queries and their
    latencies."""
    nxt = [0]
    lock = threading.Lock()
    lat: list[float] = []

    def client(reader):
        with ctx.tracer.span("serve.client", parent=phase):
            while True:
                with lock:
                    i = nxt[0]
                    nxt[0] += 1
                if i >= len(queries):
                    return
                t = time.perf_counter()
                call(reader, i, queries[i])
                with lock:
                    lat.append(time.perf_counter() - t)

    threads = [threading.Thread(target=client, args=(r,)) for r in readers]
    t = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return time.perf_counter() - t, lat


def shared_reader_probe(ctx: Ctx, idx: str, queries: list) -> None:
    """The run's serving queries once more, from 4 client threads on ONE
    reader, against the answers of a sequential reader.  Concurrent
    `search` calls on one `ServingSearcher` are not safe in this engine
    (`load_terms` publishes a term's postings dict before filling it), so
    some answers raise or come back wrong.  Their count is the layer metric
    `serve.shared_reader_errors`; it is reported, not counted in `failed`,
    so that the gated runs stay failure-free until the engine is fixed."""
    from tantivy_spark.operators import serve as V

    seq = V.ServingSearcher(idx)
    want = [topk_tuples(seq.search(q, K_TOP)) for q in queries]
    got: list = [None] * len(queries)
    errors: list[str] = []

    def call(reader, i, q):
        try:
            got[i] = topk_tuples(reader.search(q, K_TOP))
        except Exception as e:  # noqa: BLE001 - the defect being counted
            errors.append(f"{q}: {e!r}")

    shared = V.ServingSearcher(idx)
    with ctx.tracer.span("shared_reader") as phase:
        run_threads(ctx, [shared] * 4, queries, phase, call)
    wrong = [str(q) for q, a, b in zip(queries, got, want)
             if a is not None and a != b]
    ctx.layers["serve.shared_reader_errors"] = len(errors) + len(wrong)
    ctx.records["shared_reader"] = {"queries": len(queries),
                                    "raised": errors, "wrong": wrong}


def trace_overhead(ctx: Ctx, idx: str, queries: list) -> None:
    """Tracing overhead, measured: CPU time of the same pass over the first
    OVERHEAD_QUERIES `queries` on a fresh reader without and with the
    engine wrapped, twice each in alternation; `trace.overhead_pct` is
    traced minus untraced over untraced."""
    from tantivy_spark.operators import serve as V

    queries = queries[:OVERHEAD_QUERIES]
    cpu = {False: 0.0, True: 0.0}
    for traced in (False, True, False, True):
        if traced:
            instrument_engine(ctx.tracer)
        else:
            ctx.tracer.restore()
        reader = V.ServingSearcher(idx)
        c = time.process_time()
        for q in queries:
            reader.search(q, K_TOP)
        cpu[traced] += time.process_time() - c
    ctx.records["trace_overhead_cpu_s"] = {"untraced": cpu[False],
                                           "traced": cpu[True]}
    ctx.layers["trace.overhead_pct"] = (
        100.0 * (cpu[True] - cpu[False]) / cpu[False])


def status_mb(key: str) -> float:
    """A memory figure of this process (`VmRSS`, `VmHWM`) in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def serve_phases(ctx: Ctx, idx: str, stream1: list, stream4: list,
                 speed_ref: bool) -> dict:
    """The serving phases, run in a fresh reader process (`serve_proc.py`):
    a `ServingSearcher` with a cold term cache answers `stream1` from one
    client, with a `host.SpeedRef` pass before every REF_EVERY-th query if
    `speed_ref`, then `stream4` comes from 4 client threads, one reader
    each (see `shared_reader_probe`).  Every reader is opened before the
    measured phases.  The process' memory is read after the 1-client
    phase, before the 4-thread readers fill."""
    from tantivy_spark.operators import serve as V

    tr = ctx.tracer
    with tr.span("open_readers"):
        reader = V.ServingSearcher(idx)
        readers4 = [V.ServingSearcher(idx) for _ in range(4 if stream4
                                                          else 0)]
    lat1, cpu1 = [], []
    ref = new_speed_ref(ctx) if speed_ref else None
    with ctx.measure("measure.serve_1client"):
        for i, q in enumerate(stream1):
            if ref is not None and i % REF_EVERY == 0:
                run_speed_ref(ctx, ref)
            c = time.process_time()
            t = time.perf_counter()
            ctx.attempt("serve_query", reader.search, q, K_TOP)
            lat1.append(time.perf_counter() - t)
            cpu1.append(time.process_time() - c)
    out = {"lat1": lat1, "cpu1": cpu1,
           "ref_cpu": ref.cpu_s if ref is not None else [],
           "rss_mb": status_mb("VmRSS"),
           "hwm_mb": status_mb("VmHWM"), "wall4": 0.0, "lat4": [],
           "cpu4": 0.0}
    if stream4:
        with ctx.measure("measure.serve_4threads") as phase:
            c = time.process_time()
            out["wall4"], out["lat4"] = run_threads(
                ctx, readers4, stream4, phase, lambda r, i, q: ctx.attempt(
                    "serve_query_4t", r.search, q, K_TOP))
            out["cpu4"] = time.process_time() - c
        with tr.span("check"):
            fresh = V.ServingSearcher(idx)
            for q in stream4[:20]:
                ctx.check("serve_cache_consistent",
                          topk_tuples(reader.search(q, K_TOP))
                          == topk_tuples(fresh.search(q, K_TOP)), str(q))
    if ctx.trace:
        serve_layers(ctx, len(stream1) + len(stream4),
                     ctx.phases("measure.serve_1client",
                                "measure.serve_4threads"))
    return out


def serve_proc(ctx: Ctx, idx: str, mix: str, stream: int, n1: int, n4: int,
               trace: bool, speed_ref: bool) -> dict:
    """`serve_phases` over `idx` in a fresh reader process: query stream
    `stream` (`n1` queries of `gen.MIXES[mix]`) from one client, then `n4`
    serving queries from 4 threads.  In its own process the reader's RSS
    is not mixed with what generating inputs and driving Spark left in
    this one.  The process' failures, records and layer metrics join this
    run's."""
    import json
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "serve_proc.py")
    proc = subprocess.run(
        [sys.executable, script, idx, str(ctx.seed), mix, str(stream),
         str(n1), str(n4), str(int(trace)), str(int(speed_ref))],
        capture_output=True, text=True, timeout=150)
    try:
        out = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        raise RuntimeError(f"serve_proc exit {proc.returncode}: "
                           + proc.stderr[-1500:]) from None
    ctx.attempted += out.pop("attempted")
    ctx.failed += out.pop("failed")
    ctx.failures += out.pop("failures")
    ctx.layers.update(out.pop("layers"))
    ctx.records[f"serve_proc_stream{stream}"] = {
        k: out.pop(k) for k in ("records", "layer_table") if k in out}
    ctx.records[f"serve_proc_stream{stream}"].update(
        rss_mb=out["rss_mb"], hwm_mb=out["hwm_mb"])
    return out


def probe_build_splits(ctx: Ctx, src: str, n: int) -> None:
    """The per-split task body (`_fused_segment_core`) run in this process
    over the first `n` planned splits, so its layers can be timed."""
    import pyarrow.parquet as pq

    from tantivy_spark.operators import build as B

    splits = B.plan_parquet_splits(src, 1)[:n]
    mb = 0.0
    with ctx.measure("measure.probe_build"):
        for sid, (fname, rgs) in enumerate(splits):
            pf = pq.ParquetFile(fname)
            batches = [B._normalize_direct_batch(b, ())
                       for b in pf.iter_batches(batch_size=65536,
                                                row_groups=list(rgs))]
            mb += sum(gen.text_bytes(b) for b in batches) / 1e6
            run_segment_core(ctx, batches, sid)
    ctx.records["probe_build_mb"] = mb


def run_segment_core(ctx: Ctx, batches, sid: int) -> None:
    from tantivy_spark.operators import build as B

    cfg = index_config()
    out = ctx.path("probe_index")
    names = batches[0].schema.names
    enc_cols = ["doc_id", "fieldnorm_id", "terms", "token_count"]
    if cfg.positions:
        enc_cols.append("positions")
    B._fused_segment_core(
        iter(batches), sid, cfg.text_col,
        [n for n in names if n != cfg.text_col], (), cfg.positions,
        False, False, cfg.n_term_buckets, os.path.join(out, "docmap"),
        os.path.join(out, "postings"), os.path.join(out, "terms"), enc_cols)


def build_layers(ctx: Ctx, build_kind: str) -> None:
    tr = ctx.tracer
    within = ctx.phases("measure.local4")
    selfs = tr.self_times(within)

    def per_build(name: str, self_time: bool = False) -> float:
        builds = tr.by_name("build.build_index_direct", within)
        if not builds:
            return 0.0
        return statistics.median(
            sum(selfs[s[0]] if self_time else s[4] - s[3]
                for s in tr.by_name(name, [b])) for b in builds)

    ctx.layers["build.plan_s"] = per_build("build.plan")
    ctx.layers["build.split_job_s"] = per_build("build.split_job", True)
    ctx.layers["build.finish_s"] = per_build("build.finish")
    counts = ctx.spark_counts.get(build_kind, [])
    if counts:
        ctx.layers["build.tasks"] = statistics.median(
            c["tasks"] for c in counts)
        ctx.layers["build.tasks_failed"] = sum(
            c["tasks_failed"] for c in counts)
    mb = ctx.records.get("probe_build_mb") or 0.0
    tab = tr.table(ctx.phases("measure.probe_build"))

    def busy(*names, key="total_s"):
        return sum(tab.get(n, {}).get(key, 0.0) for n in names) / mb

    if mb:
        ctx.layers["arrow_tokenize.busy_s_per_mb"] = busy(
            "arrow_tokenize.tokenize")
        ctx.layers["blocks.encode_busy_s_per_mb"] = busy(
            "blocks.encode", "blocks.encode_positions")
        ctx.layers["build.encode_self_s_per_mb"] = busy(
            "build.encode", key="self_s")
        ctx.layers["build.rank_code_s_per_mb"] = busy("build.rank_code")
        ctx.layers["build.write_busy_s_per_mb"] = busy("build.write")


def serve_layers(ctx: Ctx, n_queries: int, within: list) -> None:
    tr = ctx.tracer
    tab = tr.table(within)
    n = max(n_queries, 1)

    def per_query_ms(name, key="total_s"):
        return tab.get(name, {}).get(key, 0.0) / n * 1e3

    ctx.layers["kernel.topk_ms"] = per_query_ms("kernel.topk")
    ctx.layers["blocks.decode_ms"] = per_query_ms("blocks.decode")
    ctx.layers["serve.search_self_ms"] = per_query_ms("serve.search",
                                                      "self_s")
    ctx.layers["serve.expand_ms"] = per_query_ms("serve.expand")
    ctx.layers["serve.load_terms_ms"] = per_query_ms("serve.load_terms")
    loads = [s for s in tr.by_name("serve.load_terms", within) if s[5]]
    req = sum(s[5]["req"] for s in loads)
    hit = sum(s[5]["hit"] for s in loads)
    ctx.layers["serve.load_terms_calls"] = sum(
        1 for s in loads if s[5]["hit"] < s[5]["req"])
    ctx.layers["serve.term_cache_hit_ratio"] = hit / req if req else 0.0


# --------------------------------------------------------------------------
# ingest_serve
# --------------------------------------------------------------------------

def ingest_serve(ctx: Ctx) -> None:
    """Iceberg appends, each synced into the index and then served by a
    `ServingSearcher(reload_policy="on_commit")`; then a delete, a merge,
    and distributed top-k over the merged index."""
    from tantivy_spark.operators import merge as M
    from tantivy_spark.operators import search as S
    from tantivy_spark.operators import serve as V
    from tantivy_spark.plans import logical as L
    from tantivy_spark.sources import iceberg as I

    sz = ctx.sizes
    tr = ctx.tracer
    n_commits = ctx.n(sz.ingest_commits, 2)
    n_q = sz.ingest_queries_per_commit
    with tr.span("inputs"):
        base = gen.transcripts(ctx.seed, 0, sz.ingest_base_convs)
        commits = [gen.transcripts(
            ctx.seed, sz.ingest_base_convs + c * sz.ingest_commit_convs,
            sz.ingest_commit_convs, {0: gen.marker_token(ctx.seed, c)})
            for c in range(n_commits)]
        stream = gen.query_stream(ctx.seed, 3, n_q * n_commits,
                                  gen.MIXES["fixture"])
        dist = gen.query_stream(ctx.seed, 2,
                                DIST_WARM + ctx.n(sz.dist_queries),
                                gen.MIXES["fixture"])
        batches = [[q for _, q in gen.query_stream(
            ctx.seed, 10 + b, sz.batch_size, gen.MIXES["fixture"])]
            for b in range(1 + ctx.n(sz.dist_batches))]
        taat = gen.and_queries(ctx.seed, sz.taat_queries)
    with tr.span("setup"):
        spark = host.start_spark(4)
        counter = host.JobCounter(spark)
        counter.job_floor_ms(1)
    setups = []
    for r in range(sz.setup_reps):
        with tr.span("setup"):
            t = time.perf_counter()
            table = ctx.path(f"table{r}")
            idx = ctx.path(f"index{r}")
            counter.run(I.write_table, spark, spark.createDataFrame(base),
                        table, mode="overwrite")
            manifest, _ = counter.run(I.sync_index, spark, table, idx,
                                      index_config())
            reader = V.ServingSearcher(idx, reload_policy="on_commit")
            setups.append(time.perf_counter() - t)
            ctx.check("base_sync.total_docs",
                      manifest["total_docs"] == base.num_rows,
                      f"{manifest['total_docs']} != {base.num_rows}")

    sync_walls, visible, lat, cpu, writes = [], [], [], [], []
    ref = new_speed_ref(ctx)
    with ctx.measure("measure.ingest"):
        for c, batch in enumerate(commits):
            marker = L.TermQuery(gen.marker_token(ctx.seed, c))
            t = time.perf_counter()
            _, counts = counter.run(I.write_table, spark,
                                    spark.createDataFrame(batch), table)
            writes.append(time.perf_counter() - t)
            ctx.count("write_table", counts)
            t = time.perf_counter()
            manifest, counts = counter.run(I.sync_index, spark, table, idx)
            t_synced = time.perf_counter()
            sync_walls.append(t_synced - t)
            ctx.count("sync_index", counts)
            # freshness: poll until the commit's marker doc is answered
            found = False
            for _ in range(200):
                hits = ctx.attempt("visibility_query", reader.search,
                                   marker, K_TOP)
                if hits is not None and len(hits) == 1:
                    found = True
                    break
                time.sleep(0.005)
            visible.append(time.perf_counter() - t_synced)
            ctx.check("marker_visible", found, f"commit {c}")
            for i, (_, q) in enumerate(stream[c * n_q:(c + 1) * n_q]):
                if i % REF_EVERY == 0:
                    run_speed_ref(ctx, ref)
                cp = time.process_time()
                t = time.perf_counter()
                ctx.attempt("ingest_query", reader.search, q, K_TOP)
                lat.append(time.perf_counter() - t)
                cpu.append(time.process_time() - cp)
    expect_docs = base.num_rows + sum(b.num_rows for b in commits)
    ctx.check("ingest.total_docs", manifest["total_docs"] == expect_docs,
              f"{manifest['total_docs']} != {expect_docs}")
    live_segments = len(manifest["segments"])
    with tr.span("serve_proc"):
        rss = serve_proc(ctx, idx, "fixture", 3, len(stream), 0, False,
                         False)["rss_mb"]
    with tr.span("check"):
        hits = reader.search(L.TermQuery(gen.marker_token(ctx.seed, 0)),
                             K_TOP, fetch_keys=True)
        ctx.check("marker_doc_identity",
                  len(hits) == 1 and hits["conv_id"].iloc[0]
                  == f"conv{sz.ingest_base_convs:08d}"
                  and int(hits["turn_idx"].iloc[0]) == 0,
                  str(hits.to_dict("records")))

    n_del = 1 if n_commits < 3 else 2
    deleted = [gen.marker_token(ctx.seed, c) for c in range(n_del)]
    kept = [gen.marker_token(ctx.seed, c) for c in range(n_del, n_commits)]
    with ctx.measure("measure.delete"):
        t = time.perf_counter()
        n, counts = counter.run(M.delete_query, spark, idx,
                                L.BooleanQuery.union(deleted))
        delete_s = time.perf_counter() - t
        ctx.count("delete_query", counts)
    ctx.check("delete_query.count", n == n_del, f"{n} != {n_del}")
    with tr.span("check"):
        check_markers(ctx, idx, deleted, kept, "after_delete")
    with ctx.measure("measure.merge"):
        t = time.perf_counter()
        cands, counts = counter.run(M.maybe_merge, spark, idx,
                                    M.LogMergePolicy(min_num_segments=4))
        merge_s = time.perf_counter() - t
        ctx.count("maybe_merge", counts)
    ctx.check("merge.ran", bool(cands), str(cands))
    with tr.span("check"):
        check_markers(ctx, idx, deleted, kept, "after_merge")
        merged = V.ServingSearcher(idx)
        ctx.check("merge.total_docs",
                  merged.total_docs == expect_docs - n_del,
                  f"{merged.total_docs} != {expect_docs - n_del}")

    # distributed top-k over the compacted index; the delete and merge
    # jobs before it already paid the JVM's SQL warm-up
    with tr.span("warm"):
        searcher = S.Searcher(spark, idx)
        server = searcher.batch_server(k=K_TOP)
        # a query plan's first runs in a JVM pay its codegen and JIT
        for _, q in dist[:DIST_WARM]:
            spark_search(ctx, searcher, counter, q, "warm_query")
        server.search_many(batches[0])
    dist_walls, dist_rows = [], []
    with ctx.measure("measure.dist_topk"):
        for _, q in dist[DIST_WARM:]:
            t = time.perf_counter()
            rows = ctx.attempt("dist_query", spark_search, ctx, searcher,
                               counter, q, "dist_query")
            dist_walls.append(time.perf_counter() - t)
            dist_rows.append((q, rows))
    batch_walls = []
    with ctx.measure("measure.dist_batch"):
        for b in batches[1:]:
            t = time.perf_counter()
            out, counts = counter.run(ctx.attempt, "dist_batch",
                                      server.search_many, b)
            batch_walls.append(time.perf_counter() - t)
            ctx.count("dist_batch", counts)
            ctx.check("dist_batch.rows", out is not None and len(out) > 0)
    with tr.span("check"):
        check_engines(ctx, searcher, V.ServingSearcher(idx), dist_rows,
                      taat)
    with tr.span("probe"):
        if ctx.trace:
            layer_floor(ctx, spark)
            probe_batch(ctx, searcher, idx, batches[1])
            probe_ingest(ctx, commits[-1])
            trace_overhead(ctx, idx, [q for _, q in stream])
    server.close()

    with tr.span("teardown"):
        spark.stop()
        host.shutdown_jvm()

    ibytes = dir_bytes(idx)
    tbytes = gen.text_bytes(base) + sum(gen.text_bytes(b) for b in commits)
    synced = sum(b.num_rows for b in commits)
    sync_tps = synced / sum(sync_walls)
    p50 = statistics.median(lat) * 1e3
    dist_p50 = statistics.median(dist_walls) * 1e3
    ctx.records.update(ingest_query_ms=host.summary(ms(lat)),
                       ingest_query_cpu_ms=host.summary(ms(cpu)),
                       sync_index_s=host.summary(sync_walls),
                       write_table_s=host.summary(writes),
                       commit_visible_ms=host.summary(ms(visible)),
                       speed_ref_cpu_ms=host.summary(ms(ref.cpu_s)),
                       dist_query_ms=host.summary(ms(dist_walls)),
                       dist_batch_s=host.summary(batch_walls),
                       setup_s=host.summary(setups),
                       live_segments_before_merge=live_segments,
                       merge_candidates=cands, index_bytes=ibytes,
                       text_bytes=tbytes)
    set_end_to_end(ctx, setup_s=statistics.median(setups),
                   index_turns_per_s_at_ref=sync_tps * slowness(ref.cpu_s),
                   serve_cpu_ms_at_ref=statistics.median(cpu) * 1e3
                   / slowness(ref.cpu_s),
                   index_bytes_per_text_byte=ibytes / tbytes,
                   rss_mb=rss)
    ctx.report.update(
        sync_turns_per_s=(sync_tps, "turns/s"),
        ingest_serve_p50_ms=(p50, "ms"),
        commit_visible_ms=(statistics.median(visible) * 1e3, "ms"),
        ingest_serve_p90_ms=(host.percentile(ms(lat), 90), "ms"),
        ingest_queries_per_cpu_s=(len(cpu) / sum(cpu), "1/s"),
        ingest_serve_cpu_ms_raw=(statistics.median(cpu) * 1e3, "ms"),
        delete_s=(delete_s, "s"),
        merge_s=(merge_s, "s"),
        dist_topk_p50_ms=(dist_p50, "ms"),
        dist_batch_qps=(sz.batch_size / statistics.median(batch_walls),
                        "queries/s"))
    if ctx.trace:
        ingest_layers(ctx, cands, live_segments)


def spark_search(ctx: Ctx, searcher, counter, q, kind: str):
    """One distributed DAAT top-k, planned then collected."""
    def run():
        frame = searcher.search(q, K_TOP, "daat", fetch_keys=False)
        with ctx.tracer.span("search.kernel_job"):
            return frame.collect()
    rows, counts = counter.run(run)
    ctx.count(kind, counts)
    return rows


def check_engines(ctx: Ctx, searcher, reader, dist_rows, taat) -> None:
    """Serving and distributed DAAT give identical (segment, doc, score)
    top-k; the f64 TAAT path matches the serving match set."""
    for q, rows in dist_rows:
        if rows is None:
            continue
        want = topk_tuples(reader.search(q, K_TOP))
        ctx.check("serve_equals_daat", spark_rows(rows) == want,
                  f"{q}: {spark_rows(rows)[:3]} vs {want[:3]}")
    for q in taat:
        got = {(int(r["segment_ord"]), int(r["doc_id"])) for r in
               searcher.top_docs_frame(q, None, mode="taat64").collect()}
        n_match = reader.count(q)
        want = {(s, d) for s, d, _ in topk_tuples(
            reader.search(q, max(n_match, 1)))}
        ctx.check("taat64_docset", got == want and len(got) == n_match,
                  f"{q}: {len(got)} vs {len(want)} ({n_match})")


def check_markers(ctx: Ctx, idx: str, deleted: list, kept: list,
                  when: str) -> None:
    """Deleted marker docs are absent, kept ones present, on a fresh
    serving reader (no cache carried over)."""
    from tantivy_spark.operators import serve as V
    from tantivy_spark.plans import logical as L

    r = V.ServingSearcher(idx)
    for tok in deleted:
        ctx.check(f"deleted_absent_{when}",
                  len(r.search(L.TermQuery(tok), K_TOP)) == 0, tok)
    for tok in kept:
        ctx.check(f"kept_present_{when}",
                  len(r.search(L.TermQuery(tok), K_TOP)) == 1, tok)


def probe_batch(ctx: Ctx, searcher, idx: str, batch) -> None:
    """The per-segment batch task body (`_load_segment_postings` +
    `_eval_batch_programs`) run in this process over every segment."""
    from tantivy_spark.operators import search as S

    live, terms, hot = searcher._compile_batch(batch)
    with ctx.measure("measure.probe_batch"):
        for seg in sorted(searcher._live_segments):
            tp = S._load_segment_postings(idx, seg, sorted(terms),
                                          searcher.cfg.n_term_buckets,
                                          False, hot)
            S._eval_batch_programs(live, tp, seg, K_TOP, None)


def probe_ingest(ctx: Ctx, batch) -> None:
    """The per-segment task body of a sync (`_fused_segment_core`) run in
    this process over one commit's rows."""
    from tantivy_spark.operators import build as B

    batches = [B._normalize_direct_batch(b, ())
               for b in batch.to_batches(max_chunksize=65536)]
    with ctx.measure("measure.probe_build"):
        run_segment_core(ctx, batches, 0)
    ctx.records["probe_build_mb"] = gen.text_bytes(batch) / 1e6


def ingest_layers(ctx: Ctx, cands, live_segments: int) -> None:
    tr = ctx.tracer
    within = ctx.phases("measure.ingest")

    def med(name):
        v = [s[4] - s[3] for s in tr.by_name(name, within)]
        return statistics.median(v) if v else 0.0

    ctx.layers["iceberg.write_table_s"] = med("iceberg.write_table")
    ctx.layers["iceberg.sync_index_s"] = med("iceberg.sync_index")
    ctx.layers["incremental.append_s"] = med("incremental.append")
    reloads = [s for s in tr.by_name("serve.reload", within)
               if s[5] and s[5].get("changed")]
    if reloads:
        ctx.layers["serve.reload_ms"] = statistics.median(
            s[4] - s[3] for s in reloads) * 1e3
        ctx.layers["serve.reload_terms_dropped"] = statistics.median(
            s[5]["cached_terms"] for s in reloads)
    # load_terms time of the first query answered after each reload
    loads = tr.by_name("serve.load_terms", within)
    post = [next(s[4] - s[3] for s in loads if s[3] >= rl[4])
            for rl in reloads if any(s[3] >= rl[4] for s in loads)]
    if post:
        ctx.layers["serve.post_reload_load_terms_ms"] = (
            statistics.median(post) * 1e3)
    ctx.layers["serve.live_segments"] = live_segments
    serve_layers(ctx, len(tr.by_name("serve.search", within)), within)
    d = tr.by_name("merge.delete_query", ctx.phases("measure.delete"))
    ctx.layers["merge.delete_query_s"] = sum(s[4] - s[3] for s in d)
    m = tr.by_name("merge.merge_segments", ctx.phases("measure.merge"))
    ctx.layers["merge.merge_segments_s"] = sum(s[4] - s[3] for s in m)
    ctx.layers["merge.segments_in"] = sum(len(c) for c in cands)
    build_layers(ctx, "sync_index")
    dist_layers(ctx)


def dist_layers(ctx: Ctx) -> None:
    tr = ctx.tracer
    within = ctx.phases("measure.dist_topk")
    n = max(len(tr.by_name("search.plan", within)), 1)
    tab = tr.table(within)
    ctx.layers["search.doc_freqs_ms"] = (
        tab.get("search.doc_freqs", {}).get("total_s", 0.0) / n * 1e3)
    kj = [s[4] - s[3] for s in tr.by_name("search.kernel_job", within)]
    if kj:
        ctx.layers["search.kernel_job_ms"] = statistics.median(kj) * 1e3
    dq = ctx.spark_counts.get("dist_query", [])
    if dq:
        ctx.layers["search.jobs_per_query"] = statistics.median(
            c["jobs"] for c in dq)
        ctx.layers["search.tasks_per_query"] = statistics.median(
            c["tasks"] for c in dq)
    bwithin = ctx.phases("measure.dist_batch")
    selfs = tr.self_times(bwithin)
    bj = [selfs[s[0]] for s in tr.by_name("search.batch", bwithin)]
    if bj:
        ctx.layers["search.batch_job_ms"] = statistics.median(bj) * 1e3
    ptab = tr.table(ctx.phases("measure.probe_batch"))
    ctx.layers["search.segment_load_ms"] = ptab.get(
        "search.segment_load", {}).get("total_s", 0.0) * 1e3
    ctx.layers["kernel.batch_eval_ms"] = ptab.get(
        "kernel.batch_eval", {}).get("total_s", 0.0) * 1e3


WORKLOADS = {
    "build_serve": build_serve,
    "ingest_serve": ingest_serve,
}
def instrument_engine(tracer) -> None:
    """Wrap the engine's layer boundaries so each call records a span
    named after its layer (traced runs only)."""
    import pyarrow.parquet as pq

    from tantivy_spark.functions import arrow_tokenize as AT
    from tantivy_spark.operators import blocks as BL
    from tantivy_spark.operators import build as B
    from tantivy_spark.operators import kernel as KN
    from tantivy_spark.operators import merge as M
    from tantivy_spark.operators import search as S
    from tantivy_spark.operators import serve as V
    from tantivy_spark.sources import iceberg as I
    from tantivy_spark.streaming import incremental as INC

    wrap = tracer.instrument
    # build: driver side, then the per-split task body (in-process probes)
    wrap(B, "build_index_direct", "build.build_index_direct")
    wrap(B, "plan_parquet_splits", "build.plan")
    wrap(B, "_validate_direct_source", "build.validate")
    wrap(B, "build_fused_input_files", "build.split_job")
    wrap(B, "_finish_build", "build.finish")
    wrap(AT, "tokenize_default_arrow", "arrow_tokenize.tokenize")
    wrap(B, "_encode_segment_arrow", "build.encode")
    wrap(B, "_rank_coded_terms", "build.rank_code")
    wrap(BL, "encode_postings_flat", "blocks.encode")
    wrap(BL, "encode_positions_flat", "blocks.encode_positions")
    wrap(pq, "write_table", "build.write")
    wrap(pq.ParquetWriter, "write_table", "build.write")
    wrap(pq.ParquetWriter, "close", "build.write")
    # distributed query
    wrap(S.Searcher, "search", "search.plan")
    wrap(S.Searcher, "doc_freqs", "search.doc_freqs")
    wrap(S.Searcher, "_compile_batch", "search.compile_batch")
    wrap(S.BatchSearchServer, "search_many", "search.batch")
    wrap(S, "_load_segment_postings", "search.segment_load")
    wrap(S, "_eval_batch_programs", "kernel.batch_eval")
    # kernels and block decode (serving and probes)
    for fn in ("segment_topk", "segment_topk_dismax", "segment_topk_phrase"):
        wrap(KN, fn, "kernel.topk")
    for fn in ("decode_postings", "decode_positions", "fnorms_for_blocks"):
        wrap(BL, fn, "blocks.decode")
    # serving reader

    def load_before(args, kwargs):
        self, terms = args[0], set(args[1])
        return {"req": len(terms),
                "hit": sum(1 for t in terms if t in self._tp)}

    def reload_before(args, kwargs):
        return {"cached_terms": len(args[0]._tp)}

    def reload_after(result, attrs):
        attrs["changed"] = bool(result)

    wrap(V.ServingSearcher, "search", "serve.search")
    wrap(V.ServingSearcher, "load_terms", "serve.load_terms",
         before=load_before)
    wrap(V.ServingSearcher, "reload", "serve.reload", before=reload_before,
         after=reload_after)
    wrap(V.ServingSearcher, "expand_fuzzy_scored", "serve.expand")
    # ingest, delete, merge
    wrap(I, "write_table", "iceberg.write_table")
    wrap(I, "sync_index", "iceberg.sync_index")
    wrap(INC, "_append_segment", "incremental.append")
    wrap(M, "delete_query", "merge.delete_query")
    wrap(M, "merge_segments", "merge.merge_segments")
    wrap(M, "maybe_merge", "merge.maybe_merge")
