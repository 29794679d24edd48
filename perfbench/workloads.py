"""The two workloads, their answer checks and their metrics.

Each workload runs in one process with one closed-loop client (the next
operation starts when the previous one has returned) on Spark
local[nproc]. It builds its index from the seeded corpus during set-up,
answers bench.py's 12 reference queries as warm-up, then runs its
operation until ``seconds`` have passed. Answers are checked against
``cuely_spark.oracle.OracleIndex`` after the timed loop, so the oracle
is outside every timed region and outside ``setup_s``.

- ``local_topk``: one op = ``IndexReader.search_collect(q, k=20)``;
  every query routes driver-locally (pruned posting read, numpy kernel,
  no Spark job).
- ``spark_topk``: one op = ``IndexReader.search(q, k=20).collect()``;
  every BATCH_EVERY-th op is instead a ``search_many`` batch of 12
  stream queries. Spark scheduling and collect dominate. Its traced run
  adds the live-ingest phase (:func:`live_phase`).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
from contextlib import contextmanager

import numpy as np

import gen
import measure
import spans as tracing

K = 20
#: the set-up index: the segment size of bench.py's sf0.1 build (600k
#: turns in 64 segments, 9375 turns a segment), one segment per core of
#: a 4-core box. The run budget, not local routing, caps the size
#: (NOTES.md): the hottest term, "the", has ~215 posting blocks here,
#: far below the executor's 24576-block local-routing threshold.
CORPUS_TURNS = 37_500
NUM_SEGMENTS = 4
STREAM_LEN = 4096
BATCH_QUERIES = 12
BATCH_EVERY = 8
#: seconds between two reference passes (measure.Reference) in the
#: timed loop
REF_EVERY_S = 0.25
LIVE_BATCH_TURNS = 500
#: two batches keep a traced spark_topk run, live phase and compact
#: included, well inside the 180 s a run may take: with three it took
#: 161 s on a busy host
LIVE_BATCHES = 2
#: compact() hot/cold split; NOTES.md says why it is not the default
COMPACT_HOT_DF = 0
#: build-phase names in stats.json phase_sec reported per layer
BUILD_PHASES = ("stage_a_write_turns", "job0_segments", "job0_manifest",
                "term_stats", "global_stats")

WORKLOADS = {
    "local_topk": "interactive top-20 search on the driver-local path: "
                  "plan, pruned posting read, decode and numpy kernel; "
                  "no Spark scheduling",
    "spark_topk": "the DataFrame consumer: search().collect() plus "
                  "search_many batches; Spark jobs, Python-runner round "
                  "trips and driver collect dominate",
}

#: span name -> per-layer metric (mean self seconds per traced op)
SPAN_METRICS = {
    "parser.parse": "parser.parse_s",
    "executor.search_collect": "executor.route_merge_s",
    "executor.search_local": "executor.route_merge_s",
    "executor.term_dfs": "executor.term_dfs_s",
    "executor.posting_read": "executor.posting_read_s",
    "storage.read_row_groups": "storage.read_row_groups_s",
    "codec.decode": "codec.decode_s",
    "kernel.topk": "kernel.topk_s",
    "executor.plan": "executor.plan_s",
    "spark.collect": "spark.collect_s",
}
#: counters (tracer.counts keys) reported as a mean per counted op
COUNT_METRICS = ("executor.row_groups_read", "executor.posting_bytes_read",
                 "executor.posting_rows_read", "executor.read_fallbacks",
                 "kernel.blocks_decoded", "kernel.block_decodes",
                 "kernel.blocks_total")


class Run:
    """State of one benchmark process."""

    def __init__(self, root, work, workload, seed, seconds, trace,
                 t_start):
        self.root = root
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start
        self.spark = None
        self.tracer = tracing.instrument(tracing.Tracer()) if trace else None
        self.ref = measure.Reference()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.flags: list[str] = []
        self.detail: dict = {}
        self.layer: dict = {}
        #: per-op figures, kept in the full result file only
        self.samples: dict = {}

    def mark(self, name: str) -> None:
        """Seconds since process start at a set-up milestone."""
        self.detail.setdefault("setup_marks_s", {})[name] = (
            time.perf_counter() - self.t_start)

    def error(self, what: str) -> None:
        self.errors.append(what)
        print(f"perfbench: {what}", file=sys.stderr)

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def spark_work(self, group: str) -> dict:
        """Jobs, stages and tasks Spark ran under ``group``; a stage
        counts only if it ran tasks (skipped stages count for nothing)."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        deadline = time.monotonic() + 5
        for j in jobs:
            info = st.getJobInfo(j)
            # the status store is fed asynchronously: wait for job end
            while (info is not None and info.status == "RUNNING"
                   and time.monotonic() < deadline):
                time.sleep(0.01)
                info = st.getJobInfo(j)
            for s in (info.stageIds if info is not None else ()):
                si = st.getStageInfo(s)
                ran = (si.numCompletedTasks + si.numFailedTasks
                       if si is not None else 0)
                if ran:
                    stages += 1
                    tasks += ran
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def call(self, op, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``; under op id ``op`` with the layer
        wrappers installed when ``op`` is not None."""
        tr = self.tracer
        if op is None:
            return fn(*args, **kwargs)
        tr.op = op
        tr.install()
        root = tr.begin("op")
        try:
            return fn(*args, **kwargs)
        finally:
            tr.end(root)
            tr.uninstall()
            tr.op = None

    @contextmanager
    def span(self, name: str):
        """A benchmark-side span, recorded only inside a traced op."""
        tr = self.tracer
        if tr is None or tr.op is None:
            yield
            return
        sp = tr.begin(name)
        try:
            yield
        finally:
            tr.end(sp)


# -- shared set-up and checks ----------------------------------------------
def write_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")


def oracle_for(frames):
    """OracleIndex whose doc ids are the dense rank of (conv_id,
    turn_idx) within each frame, numbered on from frame to frame: one
    frame for a bulk build, one per batch for live ingest."""
    from cuely_spark.oracle import OracleIndex

    ids, texts, base = [], [], 0
    for f in frames:
        f = f.sort_values(["conv_id", "turn_idx"])
        texts.extend(f["text"].tolist())
        ids.extend(range(base, base + len(f)))
        base += len(f)
    return OracleIndex(np.asarray(ids, dtype=np.int64), texts)


def same_answer(got, want) -> bool:
    """Rank-identical doc ids and float32-tolerant scores."""
    gd, gs = np.asarray(got[0]), np.asarray(got[1], dtype=np.float64)
    wd, ws = want
    return (gd.shape == wd.shape and np.array_equal(gd, wd)
            and np.allclose(gs, ws.astype(np.float64), rtol=1e-5,
                            atol=1e-6))


def digest(answers: dict) -> str:
    """Order-independent hash of query -> ranked doc ids."""
    h = hashlib.sha256()
    for q in sorted(answers):
        h.update(q.encode() + b"\0")
        h.update(np.asarray(answers[q][0], dtype=np.int64).tobytes())
    return h.hexdigest()[:16]


def check(run: Run, oracle, answers: dict, ops_per_query: dict,
          what: str) -> None:
    """Compare each distinct query's answer with the oracle; every op
    that returned a wrong answer counts as failed."""
    for q, ans in answers.items():
        if not same_answer(ans, oracle.search(q, k=K)):
            run.failed += ops_per_query.get(q, 1)
            run.error(f"{what}: answer differs from the oracle for {q!r}")


def build_bulk(run: Run):
    """Seeded corpus -> parquet -> build_index -> IndexReader."""
    import cuely_spark.indexer as indexer
    from cuely_spark.queryengine import IndexReader

    pdf = gen.corpus(CORPUS_TURNS, run.seed)
    src_path = os.path.join(run.work, "corpus.parquet")
    write_parquet(pdf, src_path)
    src = run.spark.read.parquet(src_path)
    run.mark("corpus_written")
    idx = os.path.join(run.work, "index")
    run.job_group("build")
    cpu = measure.TreeCPU()
    cpu.refresh()
    c0 = cpu.snapshot()
    t0 = time.perf_counter()
    indexer.build_index(run.spark, src, idx, num_segments=NUM_SEGMENTS,
                        fuzzy_sidecar=False)
    build_s = time.perf_counter() - t0
    build_cpu_s = cpu.since(c0, refresh=True)
    run.mark("index_built")
    reader = IndexReader(run.spark, idx)
    text_bytes = sum(len(t.encode()) for t in pdf["text"])
    index_bytes = measure.tree_bytes(idx)
    run.detail.update({
        "corpus_turns": len(pdf),
        "corpus_text_bytes": text_bytes,
        "index_bytes": index_bytes,
        "build_s": build_s,
        "build_turns_per_s": len(pdf) / build_s,
        "build_cpu_s": build_cpu_s,
        "build_turns_per_cpu_s": len(pdf) / build_cpu_s,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    })
    if run.trace:
        stats = reader.stats
        for phase in BUILD_PHASES:
            run.layer[f"build.{phase}_s"] = float(
                stats["phase_sec"].get(phase, 0.0))
        run.layer["build.posting_bytes"] = stats["posting_bytes"]
        run.layer["build.spark_tasks"] = run.spark_work("build")["tasks"]
    return pdf, reader


# -- top-k workloads ---------------------------------------------------------
def _local_answer(run, reader, q):
    return reader.search_collect(q, k=K)


def _spark_answer(run, reader, q):
    df = reader.search(q, k=K)
    with run.span("spark.collect"):
        rows = df.collect()
    return (np.array([r["doc_id"] for r in rows], dtype=np.int64),
            np.array([r["score"] for r in rows], dtype=np.float32))


def _spark_batch(run, reader, qs):
    keys = {f"b{j}": q for j, q in enumerate(qs)}
    df = reader.search_many(keys, k=K)
    with run.span("spark.collect"):
        rows = df.collect()
    ranked = {key: [] for key in keys}
    for r in rows:
        ranked[r["query"]].append((r["rank"], r["doc_id"], r["score"]))
    out = []
    for key, q in keys.items():
        hits = sorted(ranked[key])
        out.append((q, (np.array([h[1] for h in hits], dtype=np.int64),
                        np.array([h[2] for h in hits], dtype=np.float32))))
    return out


class Answers:
    """First answer per distinct query, and how many ops asked it; a
    later answer that differs from the first fails its op."""

    def __init__(self, run: Run):
        self.run = run
        self.first: dict = {}
        self.ops: dict = {}

    def add(self, q, ans) -> None:
        self.ops[q] = self.ops.get(q, 0) + 1
        prev = self.first.get(q)
        if prev is None:
            self.first[q] = ans
        elif not same_answer(ans, (prev[0], np.asarray(prev[1]))):
            self.run.failed += 1
            self.run.error(f"answer for {q!r} changed between repeats")


def topk(run: Run, spark_path: bool) -> dict:
    pdf, reader = build_bulk(run)
    pool = gen.query_pool(run.seed, pdf["text"].tolist())
    stream = gen.query_stream(pool, run.seed, STREAM_LEN)
    answer = _spark_answer if spark_path else _local_answer

    # warm-up (part of set-up) fills the reader's lazy caches; the
    # reference queries' answers are oracle-checked and digested. On the
    # Spark path they come from one search_many batch, and are then asked
    # singly too: the JVM keeps compiling its hot paths for a dozen
    # queries after the build, and early ops cost more CPU until it has
    if spark_path:
        warm = dict(_spark_batch(run, reader, gen.REFERENCE_QUERIES))
        for q in gen.REFERENCE_QUERIES:
            answer(run, reader, q)
    else:
        warm = {q: answer(run, reader, q) for q in gen.REFERENCE_QUERIES}
    run.mark("warmed_up")
    setup_cpu_s = measure.TreeCPU().total()
    t_first = time.perf_counter()
    run.detail["setup_wall_s"] = t_first - run.t_start

    run.job_group("timed")
    seen = Answers(run)
    cpu = measure.TreeCPU()
    cpu.refresh()
    lat, lat_cpu, lat_traced, lat_plain = [], [], [], []
    batch_lat, batch_cpu, n_batch_q = [], [], 0
    gc0 = cpu.gc_s()
    i = pos = 0
    deadline = t_first + run.seconds
    next_ref = t_first
    while time.perf_counter() < deadline:
        if time.perf_counter() >= next_ref:
            run.ref.sample()
            next_ref = time.perf_counter() + REF_EVERY_S
        op = i if (run.trace and i % 2 == 1) else None
        is_batch = spark_path and i % BATCH_EVERY == BATCH_EVERY - 1
        qs = ([stream[(pos + j) % STREAM_LEN][0]
               for j in range(BATCH_QUERIES)] if is_batch
              else [stream[pos % STREAM_LEN][0]])
        pos += len(qs)
        run.attempted += len(qs)
        c0 = cpu.snapshot()
        t0 = time.perf_counter()
        try:
            if is_batch:
                got = run.call(op, _spark_batch, run, reader, qs)
            else:
                got = [(qs[0], run.call(op, answer, run, reader, qs[0]))]
        except Exception as e:  # keep measuring; the op counts as failed
            run.failed += len(qs)
            run.error(f"op {i} ({qs[0]!r}) raised {type(e).__name__}: {e}")
            got = []
        dt = time.perf_counter() - t0
        # only Spark jobs start processes (its Python workers)
        dc = cpu.since(c0, refresh=spark_path)
        if is_batch:
            batch_lat.append(dt)
            batch_cpu.append(dc)
            n_batch_q += len(qs)
        else:
            lat.append(dt)
            lat_cpu.append(dc)
            (lat_traced if op is not None else lat_plain).append(dt)
        for q, ans in got:
            seen.add(q, ans)
        i += 1
    wall = time.perf_counter() - t_first
    # the JVM's garbage collection in the window, charged to every op in
    # proportion to its other CPU seconds
    gc_share = (cpu.gc_s() - gc0) / (sum(lat_cpu) + sum(batch_cpu))
    lat_cpu = [c * (1 + gc_share) for c in lat_cpu]
    ref_s = statistics.median(run.ref.samples)
    run.samples.update({"query_s": lat, "query_cpu_s": lat_cpu,
                        "batch_s": batch_lat,
                        "ref_pass_s": run.ref.samples})
    rss = measure.peak_rss_mb()
    n_ops = len(lat)

    t0 = time.perf_counter()
    oracle = oracle_for([pdf])
    check(run, oracle, seen.first, seen.ops, "timed")
    run.attempted += len(warm)
    check(run, oracle, warm, {}, "warm-up")
    run.detail["oracle_s"] = time.perf_counter() - t0
    timed_work = run.spark_work("timed")
    if not spark_path and timed_work["jobs"]:
        run.flags.append(f"local_topk ran {timed_work['jobs']} Spark jobs "
                         "in the timed loop: a query left the local route")

    t90 = measure.tail(lat)
    run.detail.update({
        "ops": n_ops,
        "queries": n_ops + n_batch_q,
        "distinct_queries": len(seen.first),
        "repeat_share": gen.repeat_share(
            [stream[j % STREAM_LEN] for j in range(pos)]),
        "query_p50_s": statistics.median(lat),
        "query_p90": t90,
        "queries_per_s": (n_ops + n_batch_q) / wall,
        "query_cpu_p50_s": statistics.median(lat_cpu),
        "query_cpu_p90_s": measure.percentile(lat_cpu, 0.90),
        "query_cpu_p90": measure.tail(lat_cpu),
        "gc_share": gc_share,
        "ref_pass_s": ref_s,
        "ref_passes": len(run.ref.samples),
        "build_turns_per_ref": len(pdf) * ref_s / run.detail["build_cpu_s"],
        "batch_queries_per_s": (n_batch_q / sum(batch_lat)
                                if batch_lat else None),
        "batch_p50_s": statistics.median(batch_lat) if batch_lat else None,
        "timed_spark_jobs": timed_work["jobs"],
        "reference_digest": digest(warm),
    })
    if run.trace:
        topk_layers(run, reader, answer, lat_traced, lat_plain)
        if spark_path:
            try:
                live_phase(run, stream)
            except Exception as e:  # the op in flight fails; report the rest
                run.failed += 1
                run.error(f"live phase raised {type(e).__name__}: {e}")
    return {
        "setup_s": setup_cpu_s,
        "query_cost_p50": measure.hd_quantile(lat_cpu, 0.50) / ref_s,
        "query_cost_p90": measure.hd_quantile(lat_cpu, 0.90) / ref_s,
        "build_turns_per_ref": run.detail["build_turns_per_ref"],
        "index_bytes_per_text_byte": run.detail["index_bytes_per_text_byte"],
        "driver_rss_peak_mb": rss,
    }


def topk_layers(run, reader, answer, lat_traced, lat_plain) -> None:
    """Per-layer figures: seconds from the traced ops of the timed loop;
    counts from one traced pass over the reference queries, which is the
    same work on every run of a seed and code."""
    tr = run.tracer
    timed = [sp for sp in tr.spans if isinstance(sp.op, int)]
    span_layers(run, timed)
    overhead(run, lat_traced, lat_plain)
    tr.counts.clear()
    before = len(tr.spans)
    work = {"jobs": 0, "stages": 0, "tasks": 0}
    qs = gen.REFERENCE_QUERIES
    for j, q in enumerate(qs):
        group = f"count{j}"
        run.job_group(group)
        run.call(f"count{j}", answer, run, reader, q)
        for key, v in run.spark_work(group).items():
            work[key] += v
    counted = tr.spans[before:]
    n = len(qs)
    run.layer["executor.term_dfs_calls"] = sum(
        sp.name == "executor.term_dfs" for sp in counted) / n
    run.layer["parser.parse_calls"] = sum(
        sp.name == "parser.parse" for sp in counted) / n
    for key in COUNT_METRICS:
        run.layer[key] = tr.counts.get(key, 0) / n
    total = tr.counts.get("kernel.blocks_total", 0)
    run.layer["kernel.block_skip_ratio"] = (
        1 - tr.counts.get("kernel.blocks_decoded", 0) / total
        if total else 0.0)
    run.layer["spark.jobs_per_op"] = work["jobs"] / n
    run.layer["spark.stages_per_op"] = work["stages"] / n
    run.layer["spark.tasks_per_op"] = work["tasks"] / n
    if run.workload == "local_topk" and work["jobs"]:
        run.flags.append("spark.jobs_per_op is not 0 on local_topk")


def span_layers(run, spans) -> None:
    """Mean self seconds per traced op for each layer, and the share of
    op wall time no layer span covers."""
    n_ops = len({sp.op for sp in spans})
    by_name = tracing.self_time_by_name(spans)
    for name, metric in SPAN_METRICS.items():
        run.layer[metric] = (run.layer.get(metric, 0.0)
                             + by_name.get(name, 0.0) / max(1, n_ops))
    roots = [sp for sp in spans if sp.name == "op" and sp.end is not None]
    wall = sum(sp.end - sp.start for sp in roots)
    run.layer["trace.unattributed_share"] = (
        by_name.get("op", 0.0) / wall if wall else 0.0)
    run.layer["trace.spans_per_op"] = len(spans) / max(1, n_ops)


def overhead(run, traced, plain) -> None:
    """Tracing cost: median traced op minus median untraced op, both
    from the same timed loop (ops alternate)."""
    if traced and plain:
        d = statistics.median(traced) - statistics.median(plain)
        run.layer["trace.overhead_s"] = d
        run.layer["trace.overhead_share"] = d / statistics.median(plain)


# -- live ingest (traced spark_topk runs only) --------------------------------
def live_phase(run: Run, stream) -> None:
    """Writes beside reads, measured per layer: LIVE_BATCHES micro-batches
    through ``LiveIndexWriter.process_batch``, each made visible to a new
    ``IndexReader`` that answers one stream query, then one ``compact``.

    It runs after spark_topk's timed loop and only in traced runs: at
    about 18 Spark jobs per batch it cannot give steady end-to-end
    figures within one run's time (NOTES.md)."""
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    live_pdf = gen.corpus(LIVE_BATCH_TURNS * LIVE_BATCHES, run.seed, part=1)
    frames, paths = [], []
    for b in range(LIVE_BATCHES):
        frames.append(live_pdf.iloc[b * LIVE_BATCH_TURNS:
                                    (b + 1) * LIVE_BATCH_TURNS])
        paths.append(os.path.join(run.work, "live_in", f"batch{b}.parquet"))
        write_parquet(frames[-1], paths[-1])
    root = os.path.join(run.work, "live")
    writer = LiveIndexWriter(run.spark, root)

    def one_batch(b, q):
        t0 = time.perf_counter()
        writer.process_batch(run.spark.read.parquet(paths[b]), b)
        t1 = time.perf_counter()
        reader = IndexReader(run.spark, root)
        t2 = time.perf_counter()
        ans = reader.search_collect(q, k=K)
        return ans, (t1 - t0, t2 - t1, time.perf_counter() - t2)

    parts, jobs = [], 0
    for b in range(LIVE_BATCHES):
        q = stream[b][0]
        run.job_group(f"live{b}")
        run.attempted += 1
        ans, split = run.call(f"live{b}", one_batch, b, q)
        parts.append(split)
        jobs += run.spark_work(f"live{b}")["jobs"]
        check(run, oracle_for(frames[:b + 1]), {q: ans}, {},
              f"live batch {b}")
    compact_root = os.path.join(run.work, "compact")
    t0 = time.perf_counter()
    run.call("compact", writer.compact, compact_root, target_segments=1,
             hot_df_threshold=COMPACT_HOT_DF, fuzzy_sidecar=False)
    compact_s = time.perf_counter() - t0
    compacted = IndexReader(run.spark, compact_root)
    after = {q: compacted.search_collect(q, k=K)
             for q in gen.REFERENCE_QUERIES}
    run.attempted += len(after)
    check(run, oracle_for(frames), after, {}, "compacted index")

    live = [sp for sp in run.tracer.spans
            if isinstance(sp.op, str) and sp.op.startswith("live")]
    by_name = tracing.self_time_by_name(live)
    n = LIVE_BATCHES
    visible = [sum(p) for p in parts]
    run.layer.update({
        "live.process_batch_s": by_name.get("live.process_batch", 0.0) / n,
        "live.stats_refresh_s": by_name.get("live.stats_refresh", 0.0) / n,
        "live.reader_open_s": sum(p[1] for p in parts) / n,
        "live.first_query_s": sum(p[2] for p in parts) / n,
        "live.spark_jobs_per_batch": jobs / n,
        "live.segments": IndexReader(run.spark, root).stats["num_segments"],
        "live.compact_s": compact_s,
        "merge.bytes_rewritten": measure.tree_bytes(
            os.path.join(compact_root, "index")),
    })
    run.detail.update({
        "live_batches": n,
        "live_visible_s": visible,
        "visible_p50_s": statistics.median(visible),
        "live_turns_per_s": n * LIVE_BATCH_TURNS / sum(p[0] for p in parts),
        "live_index_bytes_per_text_byte": (
            measure.tree_bytes(os.path.join(root, "index"))
            / sum(len(t.encode()) for t in live_pdf["text"])),
        "compact_s": compact_s,
    })


def run_workload(run: Run) -> dict:
    if run.workload == "local_topk":
        return topk(run, spark_path=False)
    if run.workload == "spark_topk":
        return topk(run, spark_path=True)
    raise ValueError(f"unknown workload {run.workload!r}")
