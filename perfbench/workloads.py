"""The benchmark's workloads. Each drives the engine from outside through
its public entry points, in one closed-loop client thread, and checks every
output outside the timed region.

A workload run is a sequence of *rounds*; a round is one fixed list of
operations whose inputs come from the seed. Rounds repeat while another
one is expected to fit in the time given; at least one always runs.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import checks
from perfbench.harness import Ledger, Tracer, cpu_s

# The 13 TPC-H / join / window queries and the 5 LLM-pipeline queries of
# the headline set; the other two (streaming, graph degrees) count only
# toward the whole pass.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "agg_cube",
    "window_rank",
    "topk_per_group",
    "join_asof",
    "sessionize",
    "join_range_bucketed",
    "q7_nation_volume",
    "window_range_frame",
)
LLM = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_quality",
    "text_fingerprint",
)

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass
class Op:
    """One timed operation of a round and what came of it."""

    round: int
    kind: str  # e.g. "queries.q1_pricing_summary", "api.bfs"
    idx: int  # ledger index
    latency: float | None = None  # None when the operation raised
    cpu: float = 0.0  # CPU seconds of the driver, its JVM and Python workers
    result: object = None
    info: dict = field(default_factory=dict)


class Context:
    """Session, tracer and ledger shared by the operations of one run."""

    def __init__(self, spark, tracer: Tracer, ledger: Ledger):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.ops: list[Op] = []
        self.rounds: list[list[Op]] = []
        self.procs: tuple[int, ...] = ()  # process trees whose CPU is counted

    def _group(self, op: Op, phase: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"pb:{op.round}:{op.idx}:{phase}", op.kind)

    def run(
        self,
        kind: str,
        build: Callable[[], object],
        execute: Callable[[object], object] | None = None,
    ) -> Op:
        """Time ``build`` and then ``execute`` on what it returned. In a
        traced run the plan of a returned DataFrame is also forced as its
        own phase, and each phase gets its own Spark job group."""
        op = Op(len(self.rounds), kind, self.ledger.attempt(kind))
        self.ops.append(op)
        self.rounds[-1].append(op)
        tr = self.tracer
        c0 = cpu_s(self.procs)
        t0 = time.perf_counter()
        try:
            with tr.span(kind, op=op.idx):
                self._group(op, "build")
                with tr.span("ops.build"):
                    value = build()
                if tr.enabled and hasattr(value, "_jdf"):
                    self._group(op, "plan")
                    with tr.span("ops.plan"):
                        value._jdf.queryExecution().executedPlan()
                if execute is not None:
                    self._group(op, "execute")
                    with tr.span("ops.execute"):
                        value = execute(value)
            op.latency = time.perf_counter() - t0
            op.cpu = cpu_s(self.procs) - c0
            op.result = value
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.ledger.fail(op.idx, f"raised {type(e).__name__}: {str(e)[:300]}")
        finally:
            if tr.enabled:
                self.spark.sparkContext.setJobGroup("pb:untimed", "untimed")
        return op

    def p50_by_kind(self) -> dict[str, float]:
        """Median latency of each kind of operation that completed."""
        by: dict[str, list[float]] = {}
        for o in self.ops:
            if o.latency is not None:
                by.setdefault(o.kind, []).append(o.latency)
        return {k: statistics.median(v) for k, v in by.items()}

    def check(self, op: Op, fn: Callable[[object], str | None]) -> None:
        """Run ``fn`` on an operation's result outside the timed region; a
        returned message or an exception marks the operation failed."""
        if op.latency is None:
            return
        with self.tracer.span("check", op=op.idx):
            try:
                msg = fn(op.result)
            except Exception as e:  # noqa: BLE001
                msg = f"check raised {type(e).__name__}: {str(e)[:300]}"
        if msg:
            self.ledger.fail(op.idx, msg)


# ---------------------------------------------------------------------------
# headline queries
# ---------------------------------------------------------------------------


class Headline:
    """The 20 headline queries of ``bench.py``, in a seeded order each round.
    Each query's result is collected to the driver as a pandas frame, the
    way a caller receives it; outside the timed region its digest is
    compared with the DuckDB oracle's (or, for a query whose oracle is
    pinned to another scale factor, with ``expected.json``)."""

    WARM_PASSES = 2

    def __init__(self, sf_dir: str, cache_dir: str, warm_dir: str):
        from bench import HEADLINE

        self.sf_dir = sf_dir
        self.warm_dir = warm_dir
        self.sf_tag = os.path.basename(sf_dir.rstrip("/"))
        self.names = list(HEADLINE)
        self.oracles = checks.OracleCache(sf_dir, cache_dir)

    def prepare(self, ctx: Context, seed: int) -> None:
        from distributed_graph_database_system_spark.queries.registry import all_queries

        self.registry = all_queries()
        self.rng = random.Random(seed)
        # Spark caches generated code by its text and the JVM compiles what
        # runs often, so a few passes of every query on a tiny fixture
        # leave the timed round less first-use work. Within a pass the
        # queries run concurrently, as the repo's parity sweep runs them,
        # which keeps set-up short.
        with ThreadPoolExecutor(ctx.spark.sparkContext.defaultParallelism) as pool:
            for _ in range(self.WARM_PASSES):
                list(pool.map(
                    lambda name: self.registry[name].fn(ctx.spark, self.warm_dir).toPandas(),
                    self.names,
                ))

    def reference(self, name: str) -> dict | None:
        spec = self.registry[name]
        if spec.oracle_sf and self.sf_tag != f"sf{spec.oracle_sf}":
            with open(EXPECTED_PATH) as fh:
                return json.load(fh).get(self.sf_tag, {}).get(name)
        return self.oracles.expected(name, spec.oracle) if spec.oracle else None

    def _check(self, name: str, pdf) -> str | None:
        want = self.reference(name)
        if want is None:
            return f"no reference result for {self.sf_tag}"
        got = checks.digest(pdf)
        return None if got == want else f"result {got} != reference {want}"

    def round(self, ctx: Context) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        for name in order:
            spec = self.registry[name]
            op = ctx.run(
                f"queries.{name}",
                lambda spec=spec: spec.fn(ctx.spark, self.sf_dir),
                lambda df: df.toPandas(),
            )
            ctx.check(op, lambda pdf, name=name: self._check(name, pdf))
            op.result = None  # keep only the verdict

    def close(self) -> None:
        self.oracles.close()

    def details(self, ctx: Context) -> dict:
        p50 = ctx.p50_by_kind()
        per_query = {n: p50[f"queries.{n}"] for n in self.names if f"queries.{n}" in p50}
        return {
            "queries_s": per_query,
            "relational_wall_s": sum(per_query.get(n, 0.0) for n in RELATIONAL),
            "llm_wall_s": sum(per_query.get(n, 0.0) for n in LLM),
        }


# ---------------------------------------------------------------------------
# graph ops
# ---------------------------------------------------------------------------


def random_matrix(rng: random.Random, n: int, p: float) -> list[list[int]]:
    return [[int(i != j and rng.random() < p) for j in range(n)] for i in range(n)]


def random_edges(seed: int, vertices: int, edges: int):
    """``edges`` distinct directed edges without self-loops over vertices
    ``1..vertices``, as a pandas frame."""
    import numpy as np
    import pandas as pd

    gen = np.random.default_rng(seed)
    keys = np.unique(gen.integers(0, vertices * vertices, size=int(edges * 1.1)))
    gen.shuffle(keys)
    src, dst = keys // vertices + 1, keys % vertices + 1
    keep = src != dst
    return pd.DataFrame({"src": src[keep][:edges], "dst": dst[keep][:edges]})


class GraphOps:
    """The paper's four operations through ``api.Engine`` — add, modify, BFS
    and DFS — on seeded 30-vertex adjacency matrices (the reference's size
    cap) in a 1 add : 1 modify : 2 BFS : 2 DFS mix from seeded start
    vertices, plus one seeded large graph per round that is added and then
    traversed with BFS, connected components and PageRank."""

    SMALL_N = 30
    SMALL_P = 0.2  # ~6 out-edges per vertex: BFS depth 3-5, steady across seeds
    # PageRank's default 20 iterations take ~90 s here; two still show the
    # per-iteration cost
    PAGERANK_ITERATIONS = 2

    def __init__(self, graph_root: str, big_vertices: int = 10_000, big_edges: int = 100_000):
        self.graph_root = graph_root
        self.big_vertices = big_vertices
        self.big_edges = big_edges

    def prepare(self, ctx: Context, seed: int) -> None:
        from distributed_graph_database_system_spark.api import Engine

        self.engine = Engine(ctx.spark, self.graph_root)
        self.rng = random.Random(seed)
        self.seed = seed
        self.live_edges: dict[str, int] = {}  # graph name -> stored edges
        # every operation once on a 2-vertex graph in a separate store, so
        # the timed round does not pay first-use compilation
        warm = Engine(ctx.spark, self.graph_root + "-warm")
        edge = [[0, 1], [0, 0]]
        warm.add_graph("warm", 2, edge)
        warm.modify_graph("warm", 2, edge)
        warm.bfs("warm", 1).collect()
        warm.dfs("warm", 1).collect()
        warm.connected_components("warm").collect()
        warm.pagerank("warm", iterations=1).collect()

    def _bfs(self, ctx: Context, kind: str, name: str, adj: dict, start: int) -> None:
        op = ctx.run(kind, lambda: self.engine.bfs(name, start), lambda df: df.collect())
        want = checks.bfs_levels(adj, start)
        ctx.check(op, lambda rows: _cmp({r.vid: r.level for r in rows}, want, "bfs levels"))
        if op.latency is not None:
            op.info["levels"] = max(r.level for r in op.result) + 1

    def _dfs(self, ctx: Context, name: str, adj: dict, start: int) -> None:
        op = ctx.run("api.dfs", lambda: self.engine.dfs(name, start), lambda df: df.collect())
        want = checks.dfs_leaves(adj, start)
        ctx.check(op, lambda rows: _cmp(sorted(r.vid for r in rows), want, "dfs leaves"))
        # the engine collects the out-edges of every vertex reachable from start
        op.info["collected_edges"] = sum(len(adj.get(v, ())) for v in checks.bfs_levels(adj, start))

    def round(self, ctx: Context) -> None:
        eng, rng, r = self.engine, self.rng, len(ctx.rounds)
        # large graph: add, BFS, connected components, PageRank
        big = f"big{r}"
        pdf = random_edges(self.seed * 1000 + r, self.big_vertices, self.big_edges)
        edges = list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        edf = ctx.spark.createDataFrame(pdf, "src BIGINT, dst BIGINT")
        op = ctx.run("api.big_add", lambda: eng.add_graph_edges(big, edf))
        self.live_edges[big] = len(edges)
        ctx.check(op, lambda _: _cmp(len(eng.store.load(big).collect()), len(edges), "stored edges"))
        self._bfs(ctx, "api.big_bfs", big, checks.adjacency(edges), rng.randint(1, self.big_vertices))
        op = ctx.run("api.cc", lambda: eng.connected_components(big), lambda df: df.collect())
        ctx.check(op, lambda rows: _cmp(
            {x.vid: x.comp for x in rows}, checks.components(edges), "components"))
        op = ctx.run(
            "api.pagerank",
            lambda: eng.pagerank(big, iterations=self.PAGERANK_ITERATIONS),
            lambda df: df.collect(),
        )
        want_pr = checks.pagerank(edges, self.PAGERANK_ITERATIONS)
        ctx.check(op, lambda rows: _close({x.vid: x.rank for x in rows}, want_pr))

        # 30-vertex graph: 1 add : 1 modify : 2 BFS : 2 DFS
        small = f"small{r}"
        n = self.SMALL_N
        m0, m1 = random_matrix(rng, n, self.SMALL_P), random_matrix(rng, n, self.SMALL_P)
        op = ctx.run("api.add", lambda: eng.add_graph(small, n, m0))
        self.live_edges[small] = len(checks.matrix_edges(m0))
        ctx.check(op, lambda _: _cmp(
            sorted((x.src, x.dst) for x in eng.store.load(small).collect()),
            checks.matrix_edges(m0), "stored edges"))
        op = ctx.run("api.modify", lambda: eng.modify_graph(small, n, m1))
        edges1 = checks.matrix_edges(m1)
        self.live_edges[small] = len(edges1)
        ctx.check(op, lambda _: _cmp(
            sorted((x.src, x.dst) for x in eng.store.load(small).collect()),
            edges1, "stored edges"))
        adj = checks.adjacency(edges1)
        for _ in range(2):
            self._bfs(ctx, "api.bfs", small, adj, rng.randint(1, n))
            self._dfs(ctx, small, adj, rng.randint(1, n))

    def close(self) -> None:
        pass

    def details(self, ctx: Context) -> dict:
        p50 = ctx.p50_by_kind()
        return {
            "add_p50_s": p50.get("api.add"),
            "modify_p50_s": p50.get("api.modify"),
            "bfs_p50_s": p50.get("api.bfs"),
            "dfs_p50_s": p50.get("api.dfs"),
            "big_bfs_s": p50.get("api.big_bfs"),
            "cc_s": p50.get("api.cc"),
            "pagerank_s": p50.get("api.pagerank"),
            "store_bytes_per_edge": _store_bytes(self.graph_root) / max(1, sum(self.live_edges.values())),
            "store_files": _store_files(self.graph_root),
        }


def _store_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def _store_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _cmp(got, want, what: str) -> str | None:
    if got == want:
        return None
    if isinstance(got, dict) and isinstance(want, dict):
        diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return f"{what}: {len(diff)} differ, e.g. {[(k, got.get(k), want.get(k)) for k in diff[:3]]}"
    return f"{what}: got {str(got)[:200]} want {str(want)[:200]}"


def _close(got: dict, want: dict, tol: float = 1e-12) -> str | None:
    if set(got) != set(want):
        return f"pagerank vertices: {len(set(got) ^ set(want))} differ"
    worst = max(abs(got[k] - want[k]) for k in want)
    return None if worst <= tol else f"pagerank: max abs error {worst:.3g} > {tol}"
