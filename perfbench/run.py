"""KG benchmark: transcripts -> validated triples -> graph store.

    python3 perfbench/run.py --workload vocab_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the workload's corpus from
``--seed`` (untimed), starts a ``local[4]`` SparkSession, runs one untimed
warm-up job, then repeats the workload's job through the package's public
API for ``--seconds`` seconds and checks every repetition's output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the job
once untraced and once traced (spans around each layer's public calls,
output materialized between layers, a local Spark event log and the
streaming progress reports) and reports the per-layer metrics. The last
line of stdout is one JSON object; a readable summary goes to stderr and a
full record to ``.bench_work/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "knowledge_graph_builder_spark"
CORES = 4
SESSION = "bench"
# stop starting repetitions past this point so a run always ends well
# inside its 180 s limit, whatever --seconds says
RUN_DEADLINE_S = 120.0
HARD_LIMIT_S = 170.0

# name -> (job kind, generator kind, generator arguments)
WORKLOADS = {
    "vocab_batch": ("batch", "vocab", {}),
    # 16 files per micro-batch (the file source's maxFilesPerTrigger): 3 batches
    "stream_store": ("stream", "stream", {"n_files": 48, "convs_per_file": 8}),
}
# untimed warm-up jobs on small input of the workload's own shape; the
# stream one spans two micro-batches so the store's read-modify-write path
# is warm too
WARMUP = {
    "batch": ("vocab", {"n_base": 4_000}),
    "stream": ("stream", {"n_files": 17, "convs_per_file": 1}),
}
CHECK_SAMPLE_CONVS = 40  # seeded sample of conversations checked per repetition
TEXTKIT_SAMPLE_TURNS = 10_000

# ------------------------------------------------------------------ helpers


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_files(root: str, suffix: str = ".parquet") -> dict[str, int]:
    """relative path -> size for every data file below ``root``."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(suffix):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def read_documents(src: str) -> tuple[dict[str, str], dict[str, int]]:
    """conv_id -> assembled document text, the way the pipeline joins
    turns (ordered by turn_idx, one space between turns), and conv_id ->
    number of turns."""
    import pyarrow.parquet as pq

    from knowledge_graph_builder_spark.operators.assembly import TURN_SEPARATOR

    t = pq.read_table(src, columns=["conv_id", "turn_idx", "text"]).to_pydict()
    turns: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for c, i, x in zip(t["conv_id"], t["turn_idx"], t["text"]):
        turns[c].append((i, x))
    docs = {c: TURN_SEPARATOR.join(x for _, x in sorted(v)) for c, v in turns.items()}
    return docs, {c: len(v) for c, v in turns.items()}


def sample_convs(docs: dict[str, str], seed: int, k: int) -> list[str]:
    plain = sorted(c for c in docs if not c.endswith("-hot"))
    return random.Random(seed).sample(plain, min(k, len(plain)))


def triple_key(conv: str, t) -> tuple:
    return (conv, t.source, t.target, t.rtype, t.reason, t.confidence, t.verb, t.sentence, t.date, t.amount)


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans around calls into the package's public functions, recorded
    from outside. Each span tags the Spark jobs it submits with a job
    group ``<name>#<n>`` so event-log stages can be attributed to it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, str, float]] = []  # (name, group, seconds)
        self._n = Counter()

    @contextmanager
    def span(self, name: str):
        self._n[name] += 1
        group = f"{name}#{self._n[name]}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        t0 = time.perf_counter()
        try:
            yield group
        finally:
            self.spans.append((name, group, time.perf_counter() - t0))
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    @contextmanager
    def wrapping(self, owner, attr: str, name: str, post=None):
        """Replace ``owner.attr`` with a spanned wrapper for the duration.
        ``post(result)`` runs inside the span (used to materialize a lazy
        result so the layer's work lands in the layer's span)."""
        real = getattr(owner, attr)
        results = []

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = real(*args, **kwargs)
                if post is not None:
                    post(out)
            results.append(out)
            return out

        setattr(owner, attr, wrapper)
        try:
            yield results
        finally:
            setattr(owner, attr, real)


class StoreWriteStats:
    """Data files and bytes each upsert adds to a store directory."""

    def __init__(self):
        self.commits = 0
        self.files = 0
        self.bytes = 0

    def around(self, store, fn, *args):
        before = dir_files(store.root)
        out = fn(store, *args)
        after = dir_files(store.root)
        new = {p: s for p, s in after.items() if p not in before}
        self.commits += 1
        self.files += len(new)
        self.bytes += sum(new.values())
        return out


# --------------------------------------------------------------------- jobs


def batch_job(spark, src: str, store_root: str):
    """The timed batch job, as production callers run it."""
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.canonicalize import canonicalize_nodes
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.transcripts import read_transcripts

    res = run_pipeline(spark, read_transcripts(spark, src), session_id=SESSION)
    canon = canonicalize_nodes(res.nodes).agg(
        F.countDistinct("name").alias("names"), F.countDistinct("canonical_id").alias("components")
    ).first()
    store = GraphStore(spark, store_root)
    store.upsert_nodes(res.nodes)
    store.upsert_edges(res.edges)
    return res, canon


def batch_job_traced(spark, src: str, store_root: str, tracer: Tracer, writes: StoreWriteStats):
    """The same job, layer by layer: each layer's output is persisted and
    materialized inside its span, so the next layer's span holds only its
    own work. The graph step calls the same public builders run_pipeline
    composes."""
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators import canonicalize as canon_mod
    from knowledge_graph_builder_spark.operators.graph import (
        build_edges,
        build_event_nodes_and_edges,
        build_nodes,
    )
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.transcripts import read_transcripts

    held: dict = {}

    def hold(name, df):
        held[name] = df = df.persist()
        df.count()
        return df

    with tracer.span("transcripts.scan"):
        transcripts = hold("transcripts", read_transcripts(spark, src))
    with tracer.span("extraction"):
        res = run_pipeline(spark, transcripts, session_id=SESSION)
        res.kernel_rows.count()
    with tracer.span("graph.nodes"):
        nodes = hold("nodes", build_nodes(res.entities, SESSION))
    with tracer.span("graph.edges"):
        edges = hold("edges", build_edges(res.triples, nodes, SESSION))
    with tracer.span("graph.events"):
        involves = hold("involves", build_event_nodes_and_edges(res.events, nodes, SESSION)[1])
    with tracer.wrapping(canon_mod, "candidate_pairs", "canonicalize.pairs") as pairs, \
            tracer.wrapping(canon_mod, "connected_components", "canonicalize.cc"), \
            tracer.span("canonicalize"):
        canon = canon_mod.canonicalize_nodes(nodes).agg(
            F.countDistinct("name").alias("names"), F.countDistinct("canonical_id").alias("components")
        ).first()
    with _spanned_store(tracer, writes):
        store = GraphStore(spark, store_root)
        store.upsert_nodes(nodes)
        store.upsert_edges(edges.unionByName(involves))
    if pairs:
        held["pairs"] = pairs[0]
    return res, canon, held


@contextmanager
def _spanned_store(tracer: Tracer, writes: StoreWriteStats):
    """Span every GraphStore upsert (class-level, so upserts made inside
    the package's own streaming closure are covered too) and record the
    files each one writes."""
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore

    real = {a: getattr(GraphStore, a) for a in ("upsert_nodes", "upsert_edges")}

    def make(attr):
        def wrapper(store, df):
            with tracer.span(f"store.{attr}"):
                return writes.around(store, real[attr], df)

        return wrapper

    for a in real:
        setattr(GraphStore, a, make(a))
    try:
        yield
    finally:
        for a, fn in real.items():
            setattr(GraphStore, a, fn)


def stream_job(spark, src: str, store_root: str, ckpt: str) -> list[dict]:
    """Drain the input directory into a fresh store with an availableNow
    trigger; returns the micro-batches that had input."""
    from eventlog import stream_batches

    from knowledge_graph_builder_spark.streaming.incremental import stream_kg_to_store

    q = stream_kg_to_store(spark, src, store_root, ckpt, session_id=SESSION)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return stream_batches(q.recentProgress)


def stream_job_traced(spark, src, store_root, ckpt, tracer: Tracer, writes: StoreWriteStats, counts: Counter):
    """The same drain with the kernel output materialized inside an
    ``extraction`` span per micro-batch and every upsert spanned."""
    from knowledge_graph_builder_spark.streaming import incremental

    def materialize(res):
        counts["rows_out"] += res.kernel_rows.count()

    with tracer.wrapping(incremental, "run_pipeline", "extraction", post=materialize), \
            _spanned_store(tracer, writes):
        return stream_job(spark, src, store_root, ckpt)


# ------------------------------------------------------------- correctness


NODE_KEY = ("name", "type")
EDGE_KEY = ("src", "type", "dst")


def store_vs_pipeline(stored, produced, cols) -> tuple[int, int]:
    """(rows in the store, keys found on one side only) for one table,
    compared on the executors in one job."""
    from pyspark.sql import functions as F

    def side(df, bit):
        return df.select(*cols, F.lit(bit).alias("_side"))

    per_key = (
        side(stored, 1)
        .unionByName(side(produced, 2))
        .groupBy(*cols)
        .agg(F.bit_or("_side").alias("_sides"), F.count_if(F.col("_side") == 1).alias("_rows"))
    )
    rows, one_sided = per_key.agg(F.sum("_rows"), F.count_if(F.col("_sides") != 3)).first()
    return int(rows or 0), int(one_sided)


def batch_checks(spark, res, canon, store_root: str, wl: "Workload") -> tuple[dict[str, bool], tuple[int, int]]:
    """Correctness of one batch repetition (untimed): the sampled
    conversations' triples equal the single-document kernel's; the store
    holds exactly the pipeline's node and edge keys; the store's node
    count and canonicalization's name and component counts equal the
    generator's figures. Also returns the store's (node, edge) counts."""
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore

    store = GraphStore(spark, store_root)
    res.nodes.persist()  # shared by the node and the edge comparison
    n_nodes, nodes_off = store_vs_pipeline(store.nodes(), res.nodes, NODE_KEY)
    n_edges, edges_off = store_vs_pipeline(store.edges(), res.edges, EDGE_KEY)
    checks = {
        "triples": got_triples(res.triples, wl.check_convs) == wl.want,
        "store_nodes": nodes_off == 0,
        "store_edges": edges_off == 0,
        "node_count": n_nodes == wl.corpus["expected_nodes"],
        "names": canon["names"] == wl.corpus["expected_nodes"],
        "components": canon["components"] == wl.corpus["expected_components"],
    }
    return checks, (n_nodes, n_edges)


def store_keys(spark, store_root: str) -> tuple[set, set]:
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore

    store = GraphStore(spark, store_root)
    nodes = {tuple(r) for r in store.nodes().select(*NODE_KEY).collect()}
    edges = {tuple(r) for r in store.edges().select(*EDGE_KEY).collect()}
    return nodes, edges


def batch_keys(spark, src: str) -> tuple[set, set]:
    """(name, type) and (src, type, dst) key sets of the batch pipeline
    over the same input: the stream's reference."""
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.transcripts import read_transcripts

    ref = run_pipeline(spark, read_transcripts(spark, src), persist=False)
    nodes = {tuple(r) for r in ref.nodes.select(*NODE_KEY).collect()}
    edges = {tuple(r) for r in ref.edges.select(*EDGE_KEY).collect()}
    return nodes, edges


def expected_triples(docs: dict[str, str], convs: list[str]) -> Counter:
    from knowledge_graph_builder_spark import textkit

    return Counter(
        triple_key(c, t) for c in convs for t in textkit.build_document_graph(docs[c]).triples
    )


def got_triples(triples_df, convs: list[str]) -> Counter:
    from pyspark.sql import functions as F

    rows = triples_df.filter(F.col("document_id").isin(convs)).collect()
    return Counter(
        (r["document_id"], r["source"], r["target"], r["type"], r["reason"], r["confidence"],
         r["verb"], r["source_sentence"], r["date"], r["amount"])
        for r in rows
    )


# ------------------------------------------------------------ textkit layer


def textkit_profile(docs: list[str]) -> dict:
    """Single-thread, in-process run of the kernel's per-document code
    over a fixed sample: phase times from one pass calling the phase
    functions analyze_document calls, in its order, and the full
    analyze_document time from a second pass."""
    from knowledge_graph_builder_spark import textkit as tk

    pc = time.perf_counter
    t = Counter()
    for doc in docs:
        a = pc()
        cleaned = tk.clean_text(doc)
        b = pc()
        sentences = tk.split_sentences(cleaned)
        t["clean"] += b - a
        t["split"] += pc() - b
        for sent, start in sentences:
            # tokenized once and shared, as analyze_document does; the
            # tokenizer counts towards mentions
            a = pc()
            toks = tk._tokenize(sent)
            mentions = tk.detect_mentions(sent, start, toks)
            b = pc()
            svos = tk.extract_svo(sent, mentions, start, toks)
            c = pc()
            tk.extract_rule_candidates(sent, mentions, svos)
            t["mentions"] += b - a
            t["svo"] += c - b
            t["rules"] += pc() - c
    n = Counter()
    a = pc()
    for doc in docs:
        an = tk.analyze_document(doc)
        n["sentences"] += len(an.sentences)
        n["mentions"] += len(an.mentions)
        n["candidates"] += len(an.candidates)
        n["triples"] += len(an.graph.triples)
        n["events"] += len(an.graph.events)
    full = pc() - a
    phases = sum(t.values())
    return {
        "clean_s": t["clean"],
        "split_s": t["split"],
        "mentions_s": t["mentions"],
        "svo_s": t["svo"],
        "rules_s": t["rules"],
        "graph_s": max(0.0, full - phases),
        "full_s": full,
        **n,
        "triple_yield": n["triples"] / n["candidates"] if n["candidates"] else 0.0,
    }


# -------------------------------------------------------------------- main


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (spark-submit's launcher too): temp files here, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                # one plain file (Spark 4 writes a rolling directory by default)
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_jvm(timeout: float = 30.0) -> None:
    """Wait for the driver JVM to end. PySpark's gateway JVM exits when its
    stdin closes; closing it here (rather than at interpreter exit) lets the
    run wait for the process it started."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass  # already closed
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its SparkSession and removes its data;
    # a hung one ends itself before the 180 s limit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    faulthandler.dump_traceback_later(HARD_LIMIT_S, exit=True)
    t_proc = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout")
        return 2
    job_kind, gen_kind, gen_args = WORKLOADS[args.workload]
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    import gen
    from bench import _cpu_calibration, _other_busy_cores

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    record["host"] = {"busy_cores": _other_busy_cores(), "calib_s": _cpu_calibration()}

    record["corpus"] = gen.generate(gen_kind, os.path.join(work, "corpus"), args.seed, **gen_args)
    warm_kind, warm_args = WARMUP[job_kind]
    gen.generate(warm_kind, os.path.join(work, "warmup"), args.seed, **warm_args)
    log(f"corpus {record['corpus']}")

    try:
        result = run_workload(args, work, record, t_proc)
    finally:
        # keep the record, drop the bulky data
        os.makedirs(os.path.join(work_root, "records"), exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
        with open(os.path.join(work_root, "records", name), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True, default=str)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


@dataclass
class Workload:
    """What every repetition of one run needs to know."""

    kind: str  # "batch" or "stream"
    src: str
    work: str
    corpus: dict  # the generator's record
    check_convs: list[str]
    want: Counter | None = None  # expected triples of check_convs (batch)
    oracle: tuple[set, set] | None = None  # expected store key sets (stream)


def run_workload(args, work: str, record: dict, t_proc: float) -> dict:
    import procmon

    from knowledge_graph_builder_spark.session import get_spark

    job_kind = WORKLOADS[args.workload][0]
    corpus = record["corpus"]
    src = os.path.join(work, "corpus", "transcripts")
    warm_src = os.path.join(work, "warmup", "transcripts")
    docs, n_turns = read_documents(src)
    wl = Workload(job_kind, src, work, corpus, sample_convs(docs, args.seed, CHECK_SAMPLE_CONVS))
    if job_kind == "batch":
        wl.check_convs += [c for c in docs if c.endswith("-hot")]
        wl.want = expected_triples(docs, wl.check_convs)

    if args.trace:
        # the single-thread baseline, taken while nothing else runs
        sample, turns = [], 0
        for c in sample_convs(docs, args.seed + 1, len(docs)):
            if turns >= TEXTKIT_SAMPLE_TURNS:
                break
            sample.append(docs[c])
            turns += n_turns[c]
        record["textkit"] = textkit_profile(sample) | {"turns": turns}

    reps: list[dict] = []
    spark = None
    with procmon.RssSampler(os.getpid()) as rss:
        try:
            t0 = time.perf_counter()
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_conf=spark_conf(work, args.trace),
            )
            start_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            warm_store = os.path.join(work, "stores", "warmup")
            if job_kind == "batch":
                batch_job(spark, warm_src, warm_store)[0].kernel_rows.unpersist()
            else:
                stream_job(spark, warm_src, warm_store, os.path.join(work, "ckpt-warmup"))
            spark.catalog.clearCache()
            warmup_s = time.perf_counter() - t0
            record["setup"] = {"start_s": start_s, "warmup_s": warmup_s}
            log(f"setup: start {start_s:.2f}s warm-up {warmup_s:.2f}s")

            if job_kind == "stream":
                wl.oracle = batch_keys(spark, src)

            t_meas = time.monotonic()
            cpu0 = procmon.cpu_snapshot()
            if args.trace:
                reps.append(run_rep(spark, wl, 0, traced=False))
                reps.append(run_rep(spark, wl, 1, traced=True))
            else:
                while True:
                    reps.append(run_rep(spark, wl, len(reps), traced=False))
                    now = time.monotonic()
                    if now - t_meas >= args.seconds or now - t_proc >= RUN_DEADLINE_S:
                        break
            # host contention during the timed repetitions, for attribution
            record["host"]["steal_cores"] = procmon.cores_between(cpu0, procmon.cpu_snapshot())[1]
        finally:
            try:
                if spark is not None:
                    spark.stop()
            finally:
                stop_jvm()
    record["reps"] = reps
    record["peak_rss_mb"] = rss.peak_mb
    record["peak_rss_parts_kb"] = rss.peak_parts_kb

    counts = {tuple(r["store_counts"]) for r in reps if "store_counts" in r}
    consistent = len(counts) == 1
    record["store_counts_consistent"] = consistent
    failed_reps = [r for r in reps if not (r["ok"] and consistent)]
    if job_kind == "batch":
        attempted, failed = len(reps), len(failed_reps)
    else:
        # a stream repetition is attempted and fails micro-batch by micro-batch
        size = lambda r: max(1, len(r.get("batches", [])))  # noqa: E731
        attempted, failed = sum(map(size, reps)), sum(map(size, failed_reps))
    correct = failed == 0
    log(f"store counts {sorted(counts)}; attempted {attempted}, failed {failed}")

    if args.trace:
        metrics = per_layer_metrics(record, reps, work)
    else:
        metrics = end_to_end_metrics(job_kind, record, reps)
    for name, m in metrics.items():
        log(f"  {name:28s} {m['value']:.6g} {m['unit']}  (n={m['n']})")
    log(f"correct={correct}")
    record["metrics"] = metrics
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }


def run_rep(spark, wl: Workload, i: int, traced: bool) -> dict:
    """One repetition into a fresh store, then its correctness check
    (untimed). A failed repetition is recorded, not raised."""
    root = os.path.join(wl.work, "stores", f"rep-{i}")
    rep: dict = {"traced": traced, "ok": False}
    tracer = Tracer(spark.sparkContext) if traced else None
    writes = StoreWriteStats()
    held: dict = {}
    try:
        t = time.perf_counter()
        if wl.kind == "batch":
            if traced:
                res, canon, held = batch_job_traced(spark, wl.src, root, tracer, writes)
            else:
                res, canon = batch_job(spark, wl.src, root)
            rep["wall_s"] = time.perf_counter() - t
            rep["canon"] = {"names": canon["names"], "components": canon["components"]}
            rep["checks"], rep["store_counts"] = batch_checks(spark, res, canon, root, wl)
            rep["ok"] = all(rep["checks"].values())
            rep["checked_triples"] = sum(wl.want.values())
            if traced:
                rep["counts"] = {
                    "entities_in": res.entities.count(),
                    "nodes_out": held["nodes"].count(),
                    "edges_out": held["edges"].count() + held["involves"].count(),
                    "rows_out": res.kernel_rows.count(),
                    "bytes_out": kernel_bytes(res.kernel_rows),
                    "pairs": held["pairs"].count() if "pairs" in held else 0,
                }
            res.kernel_rows.unpersist()
        else:
            ckpt = os.path.join(wl.work, f"ckpt-{i}")
            if traced:
                rep["counts"] = Counter()
                rep["batches"] = stream_job_traced(spark, wl.src, root, ckpt, tracer, writes, rep["counts"])
            else:
                rep["batches"] = stream_job(spark, wl.src, root, ckpt)
            rep["wall_s"] = time.perf_counter() - t
            keys = store_keys(spark, root)
            rep["ok"] = keys == wl.oracle
            rep["store_counts"] = (len(keys[0]), len(keys[1]))
        rep["live_bytes"] = sum(dir_files(root).values())
    except Exception as exc:  # noqa: BLE001 - the run goes on and reports the failure
        import traceback

        rep["ok"] = False
        rep["error"] = "".join(traceback.format_exception(exc))[-4000:]
        log(f"rep {i} failed: {exc}")
    finally:
        for df in held.values():
            df.unpersist()
        spark.catalog.clearCache()
        shutil.rmtree(root, ignore_errors=True)
    if traced:
        rep["spans"] = tracer.spans
        rep["writes"] = vars(writes)
    failed_checks = [k for k, ok in rep.get("checks", {}).items() if not ok]
    log(
        f"rep {i}{' traced' if traced else ''}: {rep.get('wall_s', float('nan')):.2f}s ok={rep['ok']}"
        + (f" failed checks {failed_checks}" if failed_checks else "")
    )
    return rep


def kernel_bytes(kernel_rows) -> int:
    """Size of the kernel's output rows: string bytes plus fixed-width
    columns (the Arrow payload without offsets and validity bitmaps)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    widths = {T.IntegerType: 4, T.LongType: 8, T.DoubleType: 8, T.BooleanType: 1}
    parts = []
    for f in kernel_rows.schema.fields:
        if isinstance(f.dataType, T.StringType):
            parts.append(F.coalesce(F.octet_length(f.name), F.lit(0)))
        elif isinstance(f.dataType, T.ArrayType):
            parts.append(F.coalesce(F.octet_length(F.array_join(f.name, "")), F.lit(0)))
        else:
            parts.append(F.lit(widths.get(type(f.dataType), 8)))
    return int(kernel_rows.agg(F.sum(sum(parts[1:], parts[0]))).first()[0] or 0)


def _metric(value, unit: str, n: int = 1) -> dict:
    return {"value": float(value), "unit": unit, "n": n}


def end_to_end_metrics(job_kind: str, record: dict, reps: list[dict]) -> dict:
    ok = [r for r in reps if r["ok"]] or reps
    walls = [r["wall_s"] for r in ok if "wall_s" in r] or [float("nan")]
    turns = record["corpus"]["turns"]
    if job_kind == "batch":
        # the whole corpus is one batch: its commit time is the job wall
        batch_s = walls
    else:
        batch_s = [b["trigger_s"] for r in ok for b in r.get("batches", [])] or [float("nan")]
    setup = record["setup"]
    return {
        "turns_per_s": _metric(turns / statistics.median(walls), "1/s", len(walls)),
        "microbatch_p50_s": _metric(statistics.median(batch_s), "s", len(batch_s)),
        "setup_s": _metric(setup["start_s"] + setup["warmup_s"], "s"),
        "peak_rss_mb": _metric(record["peak_rss_mb"], "MB"),
    }


def per_layer_metrics(record: dict, reps: list[dict], work: str) -> dict:
    import eventlog

    corpus = record["corpus"]
    untraced, traced = reps[0], reps[1]
    spans = traced.get("spans", [])
    m: dict[str, dict] = {}

    def total(name):
        return sum(sec for n, _, sec in spans if n == name)

    def put(name, value, unit):
        m[name] = _metric(value, unit)

    put("session.start_s", record["setup"]["start_s"], "s")
    put("session.warmup_s", record["setup"]["warmup_s"], "s")

    put("transcripts.scan_s", total("transcripts.scan"), "s")
    put("transcripts.rows", corpus["turns"], "count")
    put("transcripts.bytes", sum(dir_files(os.path.join(work, "corpus")).values()), "bytes")

    # event log: stages tagged by the extraction span's job groups
    logs = [os.path.join(work, "events", f) for f in os.listdir(os.path.join(work, "events"))]
    stages = eventlog.read_event_log(logs[0]) if logs else []
    exch_s = kern_s = shuffle = spill = 0.0
    skew = 1.0
    for g in (g for n, g, _ in spans if n == "extraction"):
        exchange, kernel = eventlog.extraction_stages(stages, g)
        exch_s += sum(s.wall_s for s in exchange)
        shuffle += sum(s.shuffle_write_bytes for s in exchange)
        spill += sum(s.spill_bytes for s in stages if s.group == g)
        if kernel is not None:
            kern_s += kernel.wall_s
            skew = max(skew, kernel.task_skew)
    record["stages"] = [vars(s) | {"task_run_ms": len(s.task_run_ms)} for s in stages]

    tk = record["textkit"]
    tk_rate = tk["turns"] / tk["full_s"]

    counts = traced.get("counts", {})
    put("extraction.s", total("extraction"), "s")
    put("extraction.exchange_s", exch_s, "s")
    put("extraction.shuffle_bytes", shuffle, "bytes")
    put("extraction.spill_bytes", spill, "bytes")
    put("extraction.kernel_stage_s", kern_s, "s")
    rows_out = counts.get("rows_out", 0)
    put("extraction.rows_out", rows_out, "count")
    put("extraction.bytes_out_per_turn", counts.get("bytes_out", 0) / corpus["turns"], "B/turn")
    put("extraction.boundary_s", kern_s - corpus["turns"] / (tk_rate * CORES), "s")
    put("extraction.task_skew", skew, "ratio")

    for k in ("clean_s", "split_s", "mentions_s", "svo_s", "rules_s", "graph_s"):
        put(f"textkit.{k}", tk[k], "s")
    put("textkit.turns_per_s_core", tk_rate, "1/s")
    for k in ("sentences", "mentions", "candidates", "triples", "events"):
        put(f"textkit.{k}", tk[k], "count")
    put("textkit.triple_yield", tk["triple_yield"], "ratio")

    put("graph.nodes_s", total("graph.nodes"), "s")
    put("graph.edges_s", total("graph.edges"), "s")
    put("graph.events_s", total("graph.events"), "s")
    ents, nodes_out = counts.get("entities_in", 0), counts.get("nodes_out", 0)
    put("graph.entities_in", ents, "count")
    put("graph.nodes_out", nodes_out, "count")
    put("graph.edges_out", counts.get("edges_out", 0), "count")
    put("graph.node_dedup_ratio", ents / nodes_out if nodes_out else 0.0, "ratio")

    canon = traced.get("canon", {})
    put("canonicalize.s", total("canonicalize"), "s")
    put("canonicalize.pairs_s", total("canonicalize.pairs"), "s")
    put("canonicalize.cc_s", total("canonicalize.cc"), "s")
    put("canonicalize.names", canon.get("names", 0), "count")
    put("canonicalize.pairs", counts.get("pairs", 0), "count")
    put("canonicalize.components", canon.get("components", 0), "count")

    writes = traced.get("writes", {})
    live = traced.get("live_bytes", 0)
    put("store.upsert_nodes_s", total("store.upsert_nodes"), "s")
    put("store.upsert_edges_s", total("store.upsert_edges"), "s")
    put("store.commits", writes.get("commits", 0), "count")
    put("store.files_written", writes.get("files", 0), "count")
    put("store.bytes_written", writes.get("bytes", 0), "bytes")
    put("store.write_amp", writes.get("bytes", 0) / live if live else 0.0, "ratio")

    batches = traced.get("batches", [])
    overhead = [b["trigger_s"] - b["addbatch_s"] for b in batches]
    put("stream.batches", len(batches), "count")
    put("stream.addbatch_s_p50", statistics.median([b["addbatch_s"] for b in batches]) if batches else 0.0, "s")
    put("stream.overhead_s_p50", statistics.median(overhead) if overhead else 0.0, "s")

    wall = traced.get("wall_s", 0.0)
    layers = [
        "transcripts.scan", "extraction", "graph.nodes", "graph.edges", "graph.events",
        "canonicalize", "store.upsert_nodes", "store.upsert_edges",
    ]
    attributed = sum(total(n) for n in layers) + sum(overhead)
    put("trace.wall_s", wall, "s")
    put("trace.unattributed_s", wall - attributed, "s")
    put("trace.overhead_s", wall - untraced.get("wall_s", wall), "s")
    put("host.busy_cores", record["host"]["busy_cores"], "cores")
    put("host.steal_cores", record["host"]["steal_cores"], "cores")
    put("host.calib_s", record["host"]["calib_s"], "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
