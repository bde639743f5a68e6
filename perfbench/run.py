"""Time-to-result benchmark for the engine's graph kernels, driven only through
the package's public functions.

    python3 perfbench/run.py --workload graph_cold --seed 42 --seconds 20 --trace 0

Run from the repository root (or a checkout of it). One process, one closed
loop: each call starts when the previous one has returned and its output has
been checked. Spark runs ``local[4]`` with 8 shuffle partitions (2x cores)
and a 1g driver heap. Progress goes to stderr; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Workloads (see README.md for why each was chosen):

* ``graph_cold`` — the first analysis of a new table: set-up cross-checks
  every kernel against ``oracle/graph_oracle.py`` on a small transcript
  graph (being the process's first kernel calls, these also pay worker
  start-up and code generation); every pass runs PageRank, CC and LPA
  against empty checkpoint stores, then counts triangles and peels the
  2-core, each call on an edge table derived just before it;
* ``graph_warm`` — re-analysis: set-up derives the edges and builds one
  store per kernel; every pass re-runs the three kernels twice on the
  prebuilt shards, resumes a 6-superstep PageRank to convergence and runs a
  slice of the ``__spark_entry__`` query catalog on the sf0.001 tables in
  ``data/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_START = time.monotonic()  # setup_s counts from process start, imports included
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.001")

CORES = 4
PARTITIONS = 2 * CORES
DRIVER_MEM = "1g"
GRAPH_CONVS = 500  # the timed transcript graph
CHECK_CONVS = 50  # graph_cold's set-up cross-check graph, for the Python oracles
# The graphs' shape comes from one datagen seed; --seed renames their
# conversations, which changes every turn's vertex id and home partition but
# not the work a kernel does.
GRAPH_SEED = 42
LPA_ITERS = 5
RESUME_AFTER = 6
KCORE_K = 2
# catalog slice (graph_warm): two relational queries, the MinHash LSH dedup
# scorer, and a local-mode query on the generic superstep loop of
# graph/runner.py
CATALOG = ["agg_tpch_q1", "join_revenue_by_segment", "dedup_minhash_lsh",
           "graph_cc_local_labels"]
KERNELS = ("pagerank", "cc", "lpa")
# graph_warm re-runs the three kernels this many times a pass; each kernel's
# time is the median over them
WARM_ROUNDS = 2
WORKLOADS = ("graph_cold", "graph_warm")
WATCHDOG_S = 175

# the same names in both workloads; medians over the passes of a run
# Each one sums seconds of work: on a shared 4-core host a single call of
# 1-4 s spreads by 10-35% from run to run, too much for a 25% bound.
END_TO_END = {
    "setup_s": "s",
    # every timed call of a pass: derivations, kernels and the workload's
    # other calls
    "analysis_ttr_s": "s",
    # PageRank + CC + LPA
    "kernels_ttr_s": "s",
    "store_bytes_per_edge": "B/edge",
}
SPARK_WINDOWS = ("edges", *KERNELS, "other")
SPAN_LAYERS = ("session", "datagen", "setup", "edges", *KERNELS, "other", "check", "oracle")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_call_s": "s",
    "pagerank.ttr_s": "s",
    "cc.ttr_s": "s",
    "lpa.ttr_s": "s",
    # graph_cold: triangles + k-core; graph_warm: partial + resumed
    # PageRank + catalog slice
    "other.ttr_s": "s",
    "datagen.transcripts_s": "s",
    "edges.derive_s": "s",
    "edges.rows": "count",
    **{f"{k}.{m}": u for k in KERNELS for m, u in (
        ("prep_s", "s"), ("s0_s", "s"), ("supersteps", "count"), ("read_s", "s"))},
    "pagerank.superstep_p50_s": "s",
    # edges per second of the median superstep >= 2 (the BASELINE.json
    # headline); it does not repeat within a tenth here, so it is traced only
    "pagerank.superstep_eps": "edges/s",
    "cc.superstep_p50_s": "s",
    "lpa.superstep_early_s": "s",
    "lpa.superstep_late_s": "s",
    **{f"catalog.{k}.{m}": u for k in KERNELS for m, u in (
        ("bytes_written", "B"), ("manifests", "count"))},
    # resume wall time minus its resumed supersteps and read: the checkpoint
    # read path
    "catalog.resume_load_s": "s",
    # workload-specific: 0 on the workload that does not run them
    "triangles.total_s": "s",
    "triangles.count": "count",
    "kcore.total_s": "s",
    "kcore.vertices": "count",
    "query.rows": "count",
    **{f"query.{q}_s": "s" for q in CATALOG},
    **{f"spark.{w}.{c}": u for w in SPARK_WINDOWS for c, u in (
        ("jobs", "count"), ("tasks", "count"), ("shuffle_write_bytes", "B"),
        ("spill_bytes", "B"))},
    "spark.pagerank.jobs_per_superstep": "count",
    # process-tree peak RSS; per-layer because ~1 run in 5 peaks ~1.1 GB
    # higher (the process responsible is logged to stderr)
    "peak_rss_mb": "MB",
    "pyworker.peak_rss_mb": "MB",
    "scaling.eff_1_to_4": "ratio",
    "trace.coverage_pct": "%",
    "trace.uncovered_s": "s",
    **{f"self.{layer}_s": "s" for layer in SPAN_LAYERS},
}
# per-layer times reported as the median over passes, like END_TO_END
PER_PASS_LAYERS = ("pagerank.ttr_s", "cc.ttr_s", "lpa.ttr_s", "other.ttr_s", "edges.derive_s",
                   "catalog.resume_load_s", "triangles.total_s", "kcore.total_s",
                   *(f"query.{q}_s" for q in CATALOG))


def java_tmp_opts(tmp: str) -> str:
    """JVM options that keep its temporary files under ``tmp``: java.io.tmpdir
    for Spark and its native libraries; no hsperfdata file, which HotSpot
    would otherwise write to /tmp."""
    return f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def digest(obj) -> str:
    return hashlib.sha1(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row equality; floats within 1e-6 relative."""
    if len(got) != len(want):
        return False
    key = lambda r: [round(v, 3) if isinstance(v, float) else v for v in r]  # noqa: E731
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, (int, float)):
                if abs(x - y) > 1e-6 * max(1.0, abs(y)):
                    return False
            elif x != y:
                return False
    return True


def du_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def count_manifests(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f == "manifest.json")


def done_markers(store_root: str) -> dict[str, int]:
    """``_DONE`` marker of every shard dir in a store: path -> mtime_ns. A
    kernel that purges and rebuilds its shards rewrites the marker."""
    return {
        os.path.relpath(d, store_root): os.stat(os.path.join(d, "_DONE")).st_mtime_ns
        for d, _, files in os.walk(store_root)
        if "_DONE" in files
    }


class Graph:
    """A derived edge table and, for the output checks, its edges in NumPy."""

    def __init__(self, edges, n_edges: int) -> None:
        import numpy as np

        self.edges, self.n_edges = edges, n_edges
        e = edges.select("src", "dst", "weight").toPandas()
        self.src, self.dst = e["src"].to_numpy(), e["dst"].to_numpy()
        self.w = e["weight"].to_numpy()
        self.vids = np.unique(np.concatenate([self.src, self.dst]))

    def rows(self) -> list[tuple]:
        return list(zip(self.src.tolist(), self.dst.tolist(), self.w.tolist()))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        from probes import RssSampler, Spans

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cold = workload == "graph_cold"
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.state_dir = os.path.join(ROOT, ".perfbench_state")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        self.t_begin = time.time()
        self.spans = Spans(trace, f"{workload}-{seed}")
        # peak RSS is a per-layer metric: polled only in the traced run
        self.rss = RssSampler(slots=CORES)
        if trace:
            self.rss.start()
        self.layer: dict[str, float] = {
            "triangles.count": 0, "kcore.vertices": 0, "query.rows": 0,
            **{k: 0.0 for k in PER_PASS_LAYERS},
        }
        self.windows: dict[str, tuple[float, float]] = {}
        self.attempted = 0
        self.failed = 0
        self.pass_times: list = []  # every timed call of the current pass
        self.errors: list[str] = []
        self.digests: dict[str, object] = {}
        self.spark = None
        self.graph: Graph | None = None
        self.pagerank_eps = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- operations and their checks -------------------------------------------

    def timed_op(self, name: str, call, verify):
        """One closed-loop operation. ``call()`` is timed: the public call
        plus reading its result back. ``verify(result)`` runs off the clock
        and raises :class:`CheckFailed` on a wrong output. Returns
        ``(seconds, result)``; a failed operation returns ``(None, None)``."""
        self.attempted += 1
        try:
            with self.spans.span(name):
                t0w, t0 = time.time(), time.monotonic()
                out = call()
                dt = time.monotonic() - t0
            log(f"{name} {dt:.3f}s")
            self.pass_times.append(dt)
            # Spark counters: the last call of a repeated operation, and all
            # of the pass's other calls together
            window = name.split(":")[0]
            start = self.windows.get(window, (t0w,))[0] if window == "other" else t0w
            self.windows[window] = (start, time.time())
            with self.spans.span("check"):
                verify(out)
            return dt, out
        except Exception as e:  # the run must finish and report the failure
            self.pass_times.append(None)
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            log(f"FAILED {name}: {type(e).__name__}: {e}")
            return None, None

    def remember(self, key: str, value) -> None:
        """Per-seed output digest: identical on every pass and every run."""
        if key in self.digests:
            check(self.digests[key] == value, f"{key} output changed within the run")
        self.digests[key] = value

    def compare_digests(self) -> None:
        # keyed by the settings too: another graph size gives other outputs
        config = digest([GRAPH_CONVS, CHECK_CONVS, LPA_ITERS, RESUME_AFTER, KCORE_K, CATALOG])
        path = os.path.join(self.state_dir, f"digest-seed{self.seed}-{config}.json")
        want = {}
        if os.path.exists(path):
            with open(path) as f:
                want = json.load(f)
        for k, v in self.digests.items():
            check(want.get(k, v) == v, f"{k} output differs from an earlier run of this seed")
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({**self.digests, **want}, f, sort_keys=True)
        os.replace(tmp, path)

    def check_kernel(self, kernel: str, g: Graph, run, pdf, oracle=None) -> None:
        """Seed-independent invariants; then equality with ``oracle`` (the
        set-up cross-check) or the per-seed digest (the timed graph)."""
        import numpy as np

        col = "rank" if kernel == "pagerank" else "label"
        vids = pdf["vid"].to_numpy()
        check(len(vids) == len(g.vids) and np.array_equal(np.sort(vids), g.vids),
              f"{kernel} does not cover every vertex exactly once")
        got = dict(zip(vids.tolist(), pdf[col].tolist()))
        if kernel == "pagerank":
            check(run.converged, "pagerank did not converge")
            check(abs(pdf["rank"].sum() - 1.0) < 1e-9, f"ranks sum to {pdf['rank'].sum()!r}")
            if oracle is not None:
                check(max(abs(got[v] - oracle[v]) for v in oracle) < 1e-6,
                      "ranks differ from the oracle")
                return
            top = pdf.sort_values(["rank", "vid"], ascending=[False, True])["vid"].head(10)
            self.remember("pagerank", {"top10": top.tolist(), "supersteps": run.supersteps})
            return
        if kernel == "cc":
            check(run.converged, "cc did not converge")
            ls = [got[v] for v in g.src.tolist()]
            ld = [got[v] for v in g.dst.tolist()]
            check(ls == ld, "cc: an edge joins two different labels")
        if oracle is not None:
            check(got == oracle, f"{kernel} labels differ from the oracle")
            return
        self.remember(kernel, {"labels": len(set(got.values())), "supersteps": run.supersteps})

    def check_triangles(self, g: Graph, res, oracle=None) -> None:
        total, pdf = res
        check(int(pdf["triangles"].sum()) == 3 * total, "per-vertex triangles != 3x total")
        if oracle is not None:
            got = dict(zip(pdf["vid"].tolist(), pdf["triangles"].tolist()))
            check(total == oracle[0] and got == oracle[1], "triangles differ from the oracle")
            return
        self.remember("triangles", int(total))
        self.layer["triangles.count"] = int(total)

    def check_kcore(self, g: Graph, pdf, oracle=None) -> None:
        got = dict(zip(pdf["vid"].tolist(), pdf["degree"].tolist()))
        # every survivor keeps >= k neighbours among the survivors
        nbrs: dict[int, set] = {}
        for s, d in zip(g.src.tolist(), g.dst.tolist()):
            if s != d and s in got and d in got:
                nbrs.setdefault(s, set()).add(d)
                nbrs.setdefault(d, set()).add(s)
        check(all(len(nbrs.get(v, ())) >= KCORE_K for v in got), "k-core degree < k")
        if oracle is not None:
            check(got == oracle, "k-core differs from the oracle")
            return
        self.remember("kcore", len(got))
        self.layer["kcore.vertices"] = len(got)

    def kernel(self, name: str, edges, store_root: str, **kw):
        from tiktok_whisper_spark.graph import connected_components, label_propagation, pagerank
        from tiktok_whisper_spark.sources.catalog import CheckpointStore

        fn = {"pagerank": pagerank, "cc": connected_components, "lpa": label_propagation}[name]
        kw.setdefault("resume", False)
        kw.setdefault("max_iter", {"pagerank": 100, "cc": 100, "lpa": LPA_ITERS}[name])
        return fn(edges, scatter_mode="local", store=CheckpointStore(store_root), run_id=name, **kw)

    def kernel_call(self, name: str, edges, store_root: str, **kw):
        """Time-to-result of one kernel call: the call plus reading the whole
        state back. Returns (run, state frame, read seconds, total seconds)."""
        def call():
            t0 = time.monotonic()
            run = self.kernel(name, edges, store_root, **kw)
            t1 = time.monotonic()
            pdf = run.state.select("vid", "rank" if name == "pagerank" else "label").toPandas()
            t2 = time.monotonic()
            return run, pdf, t2 - t1, t2 - t0
        return call

    def triangles_call(self, edges):
        from tiktok_whisper_spark.graph import triangle_counts_local

        def call():
            res = triangle_counts_local(edges, num_partitions=PARTITIONS)
            return res.total, res.per_vertex.toPandas()
        return call

    def kcore_call(self, edges):
        from tiktok_whisper_spark.graph import kcore

        return lambda: kcore(edges, KCORE_K).toPandas()

    def superstep_layers(self, name: str, run, wall: float, read_s: float) -> None:
        ms = {m["superstep"]: m["wall_ms"] / 1000.0 for m in run.metrics}
        steps = sorted(k for k in ms if k >= 1)
        late = [ms[k] for k in steps if k >= 2] or [ms[k] for k in steps] or [0.0]
        lay = self.layer
        lay[f"{name}.supersteps"] = run.supersteps
        lay[f"{name}.read_s"] = read_s
        lay[f"{name}.s0_s"] = ms.get(0, 0.0)
        # prep: shard write, compile and vertex build, outside any superstep
        lay[f"{name}.prep_s"] = wall - read_s - sum(ms.values())
        if name == "lpa":
            lay["lpa.superstep_early_s"] = statistics.median([ms[k] for k in steps[:2]] or [0.0])
            lay["lpa.superstep_late_s"] = statistics.median([ms[k] for k in steps[-3:]] or [0.0])
        else:
            lay[f"{name}.superstep_p50_s"] = statistics.median(late)

    # -- set-up ------------------------------------------------------------------

    def start_session(self) -> None:
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(CORES))
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = java_tmp_opts(self.path("tmp"))
        os.environ["PYSPARK_PYTHON"] = sys.executable
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from tiktok_whisper_spark.session import get_spark

        with self.spans.span("session:get_spark"):
            t0 = time.monotonic()
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", master=f"local[{CORES}]",
                shuffle_partitions=PARTITIONS, driver_memory=DRIVER_MEM, extra_conf=conf,
            )
            self.layer["session.get_spark_s"] = time.monotonic() - t0
        with self.spans.span("session:first_call"):
            t0 = time.monotonic()
            self.spark.range(1000).selectExpr("sum(id)").collect()
            self.layer["session.first_call_s"] = time.monotonic() - t0

    def write_transcripts(self, n_convs: int, out: str) -> str:
        """A datagen transcript table with every ``conv_id`` suffixed by the
        seed, written once."""
        from pyspark.sql import functions as F
        from tiktok_whisper_spark import datagen

        datagen.transcripts(self.spark, n_convs=n_convs, seed=GRAPH_SEED).withColumn(
            "conv_id", F.concat("conv_id", F.lit(f"~{self.seed}"))
        ).write.parquet(out)
        return out

    def derive(self, transcripts: str, out: str):
        from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges

        t = self.spark.read.parquet(transcripts)
        e = turn_adjacency_edges(t, include_home=True).unionByName(
            turn_tool_edges(t, include_home=True)
        )
        e.write.parquet(out)
        edges = self.spark.read.parquet(out)
        return edges, edges.count()

    def set_up(self) -> None:
        self.start_session()
        with self.spans.span("datagen:transcripts"):
            t0 = time.monotonic()
            self.transcripts = self.write_transcripts(GRAPH_CONVS, self.path("transcripts"))
            self.layer["datagen.transcripts_s"] = time.monotonic() - t0
        if self.cold:
            self.cross_check()
        # the timed graph, derived once: the reference the output checks use
        with self.spans.span("setup:graph"):
            self.graph = Graph(*self.derive(self.transcripts, self.path("edges")))
            self.layer["edges.rows"] = self.graph.n_edges
            self.remember("edges.rows", self.graph.n_edges)
        if not self.cold:
            self.warm_up()
        self.setup_s = time.monotonic() - T_START

    def cross_check(self) -> None:
        """graph_cold set-up: every kernel on a small graph against
        ``oracle/graph_oracle.py``. These are the process's first kernel
        calls, so they also pay worker start-up and code generation before
        any timed call."""
        from oracle import graph_oracle as o

        with self.spans.span("setup:cross_check"):
            small = self.write_transcripts(CHECK_CONVS, self.path("check", "transcripts"))
            g = Graph(*self.derive(small, self.path("check", "edges")))
            rows = g.rows()
            with self.spans.span("oracle"):
                want = {
                    "pagerank": o.pagerank_oracle(rows),
                    "cc": o.cc_oracle(rows),
                    "lpa": o.lpa_oracle(rows, max_iter=LPA_ITERS),
                    "triangles": o.triangle_oracle(rows),
                    "kcore": o.kcore_oracle(rows, KCORE_K),
                }
            for k in KERNELS:
                self.setup_op(f"cross_check:{k}", self.kernel_call(k, g.edges, self.path("check", k)),
                              lambda r, k=k: self.check_kernel(k, g, r[0], r[1], want[k]))
            self.setup_op("cross_check:triangles", self.triangles_call(g.edges),
                          lambda r: self.check_triangles(g, r, want["triangles"]))
            self.setup_op("cross_check:kcore", self.kcore_call(g.edges),
                          lambda r: self.check_kcore(g, r, want["kcore"]))

    def setup_op(self, name: str, call, verify):
        """A checked operation during set-up (no timing, no Spark window)."""
        self.attempted += 1
        try:
            with self.spans.span(f"setup:{name}"):
                out = call()
            with self.spans.span("check"):
                verify(out)
            return out
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            log(f"FAILED {name}: {type(e).__name__}: {e}")
            return None

    def warm_up(self) -> None:
        """graph_warm set-up: build the three stores (the process's first
        kernel calls) and run the catalog slice's DuckDB oracle SQL."""
        import duckdb

        import __spark_entry__ as entry

        self.stores = {k: self.path(f"store_{k}") for k in KERNELS}
        for k in KERNELS:
            self.setup_op(f"store:{k}", self.kernel_call(k, self.graph.edges, self.stores[k]),
                          lambda r, k=k: self.check_kernel(k, self.graph, r[0], r[1]))
        self.markers = {k: done_markers(v) for k, v in self.stores.items()}
        self.setup_op("store markers", lambda: self.markers,
                      lambda m: check(all(m.values()), "a warm store holds no _DONE shard marker"))
        with self.spans.span("oracle"):
            # bounded: the oracle SQL runs in this process, beside the engine
            con = duckdb.connect(config={
                "memory_limit": "1GB", "threads": 2, "temp_directory": self.path("tmp"),
            })
            for t in os.listdir(SF_DIR):
                con.execute(
                    f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                    f"'{os.path.join(SF_DIR, t)}'"
                )
            sqls = entry.oracle_sql()
            self.query_oracle = {q: con.execute(sqls[q]).fetchall() for q in CATALOG}
            con.close()

    # -- one pass -----------------------------------------------------------------

    def fresh_edges(self, i: int, j: int, times: list):
        """Derive a fresh edge table (timed; its time is appended to
        ``times``). graph_cold derives one before each of its operations,
        so the derivation samples are spread over the whole pass."""
        dt, res = self.timed_op(
            "edges:derive",
            lambda: self.derive(self.transcripts, self.path(f"pass{i}", f"edges{j}")),
            lambda r: self.remember("edges.rows", r[1]),
        )
        times.append(dt)
        return None if res is None else res[0]

    def one_pass(self, i: int) -> dict[str, float]:
        out: dict[str, float] = {}
        self.windows.pop("other", None)  # the last pass's own calls only
        self.pass_times = []
        derive_s: list = []
        ttr: dict[str, list] = {k: [] for k in KERNELS}
        for k in (KERNELS if self.cold else KERNELS * WARM_ROUNDS):
            # graph_cold analyses a table it has just derived, with an empty
            # store; graph_warm the set-up table with its prebuilt store
            if self.cold:
                edges = self.fresh_edges(i, len(derive_s), derive_s)
                store = self.path(f"pass{i}", f"store_{k}")
            else:
                edges, store = self.graph.edges, self.stores[k]
            if edges is None:
                ttr[k].append(None)
                continue
            dt, r = self.timed_op(
                k, self.kernel_call(k, edges, store),
                lambda r, k=k: self.check_kernel(k, self.graph, r[0], r[1]),
            )
            ttr[k].append(dt)
            if r is None:
                continue
            self.superstep_layers(k, r[0], r[3], r[2])
            self.layer[f"catalog.{k}.bytes_written"] = du_bytes(store)
            self.layer[f"catalog.{k}.manifests"] = count_manifests(store)
            if k == "pagerank":
                self.full_ranks, self.pagerank_run = r[1], (edges, store)
                walls = [m["wall_ms"] for m in r[0].metrics if m["superstep"] >= 2]
                self.layer["pagerank.superstep_eps"] = self.pagerank_eps = (
                    r[0].metrics[-1]["edges_processed"] / (statistics.median(walls) / 1000.0)
                )
        if all(None not in ts for ts in ttr.values()):
            med = {k: statistics.median(ts) for k, ts in ttr.items()}
            out.update({f"{k}.ttr_s": t for k, t in med.items()})
            out["kernels_ttr_s"] = sum(med.values())
        if all(f"catalog.{k}.bytes_written" in self.layer for k in KERNELS):
            out["store_bytes_per_edge"] = sum(
                self.layer[f"catalog.{k}.bytes_written"] for k in KERNELS
            ) / self.graph.n_edges

        other = self.cold_other(i, derive_s, out) if self.cold else self.warm_other(out)
        out["other.ttr_s"] = None if None in other else sum(other)
        if derive_s and None not in derive_s:
            out["edges.derive_s"] = statistics.median(derive_s)
        if None not in self.pass_times:
            out["analysis_ttr_s"] = sum(self.pass_times)
        if not self.cold:
            for k, before in self.markers.items():
                self.attempted += 1
                if done_markers(self.stores[k]) != before:
                    self.failed += 1
                    self.errors.append(f"{k}: warm shards were rebuilt")
        shutil.rmtree(self.path(f"pass{i - 1}"), ignore_errors=True)
        return out

    def cold_other(self, i: int, derive_s: list, out: dict) -> list:
        g = self.graph
        times = []
        for j, (name, call, verify) in enumerate((
            ("triangles", self.triangles_call, lambda r: self.check_triangles(g, r)),
            ("kcore", self.kcore_call, lambda r: self.check_kcore(g, r)),
        ), start=len(KERNELS)):
            edges = self.fresh_edges(i, j, derive_s)
            dt = None if edges is None else self.timed_op(f"other:{name}", call(edges), verify)[0]
            out[f"{name}.total_s"] = dt
            times.append(dt)
        return times

    def warm_other(self, out: dict) -> list:
        import __spark_entry__ as entry

        times = []
        edges, store = self.graph.edges, self.stores["pagerank"]
        dt, _ = self.timed_op(
            "other:resume_partial",
            self.kernel_call("pagerank", edges, store, max_iter=RESUME_AFTER),
            lambda r: check(r[0].supersteps == RESUME_AFTER and not r[0].converged,
                            "partial pagerank did not stop at its cap"),
        )
        times.append(dt)

        def resume_ok(r):
            run, pdf, read_s, wall = r
            check(run.resumed_from == RESUME_AFTER, f"resumed from {run.resumed_from}")
            self.check_kernel("pagerank", self.graph, run, pdf)
            a = self.full_ranks.sort_values("vid")["rank"].to_numpy()
            b = pdf.sort_values("vid")["rank"].to_numpy()
            check(float(abs(a - b).max()) < 1e-12, "resumed ranks differ from a full run")
            steps = sum(m["wall_ms"] for m in run.metrics if m["superstep"] > RESUME_AFTER)
            out["catalog.resume_load_s"] = wall - read_s - steps / 1000.0

        dt, _ = self.timed_op(
            "other:resume",
            self.kernel_call("pagerank", edges, store, resume=True),
            resume_ok,
        )
        times.append(dt)
        fns = entry.queries()
        rows = 0
        for q in CATALOG:
            def q_ok(res, q=q):
                nonlocal rows
                check(same_rows(res, self.query_oracle[q]), f"{q} differs from its oracle SQL")
                values = sorted(repr([f"{v:.6g}" if isinstance(v, float) else v for v in r])
                                for r in res)
                self.remember(f"query.{q}", [len(res), digest(values)])
                rows += len(res)

            dt, _ = self.timed_op(
                f"other:query:{q}",
                lambda q=q: [tuple(r) for r in fns[q](self.spark, SF_DIR).collect()],
                q_ok,
            )
            out[f"query.{q}_s"] = dt
            times.append(dt)
        self.layer["query.rows"] = rows
        return times

    # -- the run --------------------------------------------------------------------

    def run(self) -> dict:
        self.set_up()
        passes: list[dict[str, float]] = []
        t0 = last = time.monotonic()
        # whole passes only: another pass starts if it should end in time
        while not passes or 2 * time.monotonic() - last - t0 <= self.seconds:
            last = time.monotonic()
            passes.append(self.one_pass(len(passes)))
        t_end = time.time()
        self.rss.stop()
        try:
            with self.spans.span("check"):
                self.compare_digests()
        except CheckFailed as e:
            self.failed += 1
            self.errors.append(str(e))
        metrics = {}
        for key in (*END_TO_END, *PER_PASS_LAYERS):
            vals = [p.get(key) for p in passes]
            if vals and None not in vals:
                (metrics if key in END_TO_END else self.layer)[key] = statistics.median(vals)
        metrics["setup_s"] = self.setup_s
        self.layer["peak_rss_mb"] = self.rss.peak_total / 2**20
        self.layer["pyworker.peak_rss_mb"] = self.rss.peak_workers / 2**20
        log(f"{len(passes)} pass(es); setup {self.setup_s:.2f}s")
        if self.trace:
            log("peak RSS by process (MB): " + ", ".join(
                f"{comm}:{pid}={h >> 20}" for pid, (h, _, comm) in self.rss.at_peak.items()))
            log(f"end-to-end while traced: {json.dumps(metrics)}")
            log(f"spans: {self.spans_summary()}")
            self.trace_layers(t_end)
        return self.report(metrics)

    def spans_summary(self) -> str:
        return ", ".join(
            f"{r['name']}={r['end'] - r['start']:.2f}s" for r in self.spans.records
            if r["parent"] is None and r["name"] != "check"
        )

    def trace_layers(self, t_end: float) -> None:
        from probes import spark_counters

        self.scaling()
        self.stop_spark()
        for w in SPARK_WINDOWS:  # 0 for a window the workload does not open
            for c in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
                self.layer[f"spark.{w}.{c}"] = 0
        for w, c in spark_counters(self.path("eventlog"), self.windows).items():
            for k, v in c.items():
                self.layer[f"spark.{w}.{k}"] = v
        self.layer["spark.pagerank.jobs_per_superstep"] = (
            self.layer.get("spark.pagerank.jobs", 0) / (self.layer.get("pagerank.supersteps", 0) + 1)
        )
        cov = self.spans.coverage(self.t_begin, t_end)
        self.layer["trace.coverage_pct"] = 100.0 * cov
        self.layer["trace.uncovered_s"] = (1.0 - cov) * (t_end - self.t_begin)
        self.layer.update({f"self.{layer}_s": 0.0 for layer in SPAN_LAYERS})
        for layer, sec in self.spans.layer_self_s().items():
            self.layer[f"self.{layer}_s"] = sec
        self.spans.write(os.path.join(self.state_dir, "spans", f"{self.spans.run_id}.json"))

    def scaling(self) -> None:
        """``scaling.eff_1_to_4``: the last pass's steady PageRank edges/s
        against a re-run on its store (``max_iter=6``: supersteps 2 to 6)
        with the whole process tree pinned to one core."""
        from probes import pin_tree

        if self.pagerank_eps is None:
            return
        cpus = os.sched_getaffinity(0)
        with self.spans.span("scaling"):
            pin_tree(os.getpid(), {min(cpus)})
            try:
                run = self.kernel("pagerank", *self.pagerank_run, max_iter=6)
            finally:
                pin_tree(os.getpid(), cpus)
        walls = [m["wall_ms"] / 1000.0 for m in run.metrics if m["superstep"] >= 2]
        eps1 = run.metrics[-1]["edges_processed"] / statistics.median(walls)
        self.layer["scaling.eff_1_to_4"] = self.pagerank_eps / eps1 / CORES

    def report(self, metrics: dict) -> dict:
        names = PER_LAYER if self.trace else END_TO_END
        values = self.layer if self.trace else metrics
        out = {k: {"value": values[k], "unit": u} for k, u in names.items() if k in values}
        missing = sorted(set(names) - set(out))
        if missing:
            self.errors.append(f"metrics not measured: {missing}")
        return {"correct": self.failed == 0 and not self.errors, "attempted": self.attempted,
                "failed": self.failed, "metrics": out}

    def stop_spark(self) -> None:
        from probes import stop_session

        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None

    def close(self) -> None:
        self.rss.stop()
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    for mod in ("tiktok_whisper_spark", "oracle.graph_oracle", "__spark_entry__"):
        try:
            __import__(mod)
        except ImportError as e:
            log(f"cannot import {mod} from {ROOT}: {e}")
            return 2
    watchdog = threading.Timer(WATCHDOG_S, lambda: (log("watchdog: giving up"), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
        watchdog.cancel()
    for e in bench.errors:
        log(f"error: {e}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
