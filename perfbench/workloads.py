"""The benchmark's workloads. Each one makes its inputs from the seed,
names the engine functions its traced run wraps, runs one operation, and
checks results against a computation made apart from the engine.

Both workloads are closed loops with one client: one operation at a time
from one process.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen

FIT = "production_fit"
MIX = ("q4_star_join", "m10_audio_energy", FIT)


class Workload:
    name = ""
    op_unit = "op"  # what one timed operation is
    queries_per_op = 1

    def __init__(self, seed: int, work: str, small: bool):
        self.seed, self.work, self.small = seed, work, small
        self.data_dir = os.path.join(work, "data")

    def prepare(self) -> None:
        """Generate this seed's inputs under ``self.work``."""

    def setup(self, spark) -> None:
        """Engine set-up beyond ``get_spark`` that counts into setup_s."""

    def install_trace(self, tracer) -> None:
        """Wrap the engine functions whose calls the traced run times."""

    def op(self, spark, tracer):
        """One operation; ``tracer`` spans are no-ops unless tracing."""
        raise NotImplementedError

    def entry_times(self, result, wall: float) -> dict[str, float]:
        """Seconds per entry of one operation; ``op_s`` sums each entry's
        median over the timed operations."""
        return {self.name: wall}

    def check(self, results) -> tuple[int, list[str]]:
        """Return (checks attempted, failure messages)."""
        raise NotImplementedError


class LloydLarge(Workload):
    """The paper's query at scale: ``Engine.run_reference_workload`` over
    a points file of 2-D Gaussian blobs, K=8, max_iter=10, tol=0."""

    name = "lloyd_large"
    k, max_iter, tol = 8, 10, 0.0

    def prepare(self):
        n = 2_000 if self.small else 50_000
        rng = np.random.default_rng(self.seed)
        self.pts = gen.blob_points(rng, n, self.k, spread=1.5, scale=20.0)
        self.points_path = gen.points_file(
            os.path.join(self.data_dir, "points.txt"), self.pts
        )
        self.out = os.path.join(self.work, "centroids.txt")

    def setup(self, spark):
        from k_means_clustering_via_map_reduce_spark.engine import Engine

        self.engine = Engine(spark)

    def install_trace(self, tracer):
        from k_means_clustering_via_map_reduce_spark import engine

        tracer.wrap(engine, "read_points_csv", "sources.read_points_csv")
        tracer.wrap(engine, "lloyd_fit", "kmeans.lloyd_fit")
        tracer.wrap(engine, "write_centroids_txt", "sources.write_centroids_txt")

    def op(self, spark, tracer):
        return self.engine.run_reference_workload(
            self.points_path, self.k, self.max_iter, tol=self.tol,
            output_path=self.out,
        )

    def check(self, results):
        errs = []
        want = checks.numpy_lloyd(self.pts, self.k, self.max_iter, self.tol)
        for r in results:
            errs += checks.lloyd_matches(
                r, self.pts, self.k, self.max_iter, self.tol, self.out,
                numpy_result=want,
            )
        return len(results), errs


class QueryMix(Workload):
    """Passes over two registered batch queries on seeded tables, a star
    join and a pandas-UDF operator, and the production K-Means fit
    (K-Means|| seeding, candidate weights, local refine, seeded
    ``lloyd_fit_join``) on a seeded 64-dim corpus."""

    name = "query_mix"
    op_unit = "pass"
    queries_per_op = len(MIX)
    fit_tol = 1e-4  # production_fit's default

    def prepare(self):
        if self.small:
            gen.star_tables(self.data_dir, self.seed, n_orders=400,
                            n_docs=100, n_embeddings=120)
        else:
            gen.star_tables(self.data_dir, self.seed, n_orders=2000,
                            n_docs=400, n_embeddings=1000)

    def setup(self, spark):
        from k_means_clustering_via_map_reduce_spark import kmeans, queries

        queries.load_all()
        self.queries = queries
        self.kmeans = kmeans
        self.emb = spark.read.parquet(
            os.path.join(self.data_dir, "embeddings.parquet")
        )
        # Keep the fit's K-Means|| candidates and weights for the oracle
        # check; the refine itself runs unchanged.
        self.captured: list[tuple] = []
        refine = kmeans.refine_weighted_candidates

        def capture(cands, weights, k, *a, **kw):
            self.captured.append((cands, weights))
            return refine(cands, weights, k, *a, **kw)

        kmeans.refine_weighted_candidates = capture

    def install_trace(self, tracer):
        km = self.kmeans
        tracer.wrap(km, "kmeans_parallel_init", "kmeans.kmeans_parallel_init")
        tracer.wrap(km, "candidate_weights", "kmeans.candidate_weights",
                    lazy_collect=True)
        tracer.wrap(km, "refine_weighted_candidates",
                    "kmeans.refine_weighted_candidates")
        tracer.wrap(km, "lloyd_fit_join", "kmeans.lloyd_fit_join")

    def op(self, spark, tracer):
        out = {}
        for name in MIX:
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}"):
                if name == FIT:
                    df, rows = None, self.kmeans.production_fit(self.emb)
                else:
                    with tracer.span("queries.build"):
                        df = self.queries.QUERIES[name](spark, self.data_dir)
                    with tracer.span("queries.collect"):
                        rows = df.collect()
            out[name] = (df, rows, time.perf_counter() - t0)
        return out

    def entry_times(self, result, wall):
        return {name: seconds for name, (_, _, seconds) in result.items()}

    def check(self, results):
        last = results[-1]
        oracle = checks.Oracle(_repo_root(), self.data_dir)
        errs = []
        try:
            for name in MIX:
                if name != FIT:
                    df, rows, _ = last[name]
                    errs += oracle.compare(
                        name, self.queries.ORACLE_SQL[name], df.columns, rows
                    )
            kmeanspp = oracle.rows(self.queries.ORACLE_SQL["k13_kmeanspp_init"])
        finally:
            oracle.close()
        cands, weights = self.captured[-1]
        got = sorted(
            ((r, cid, int(weights.get(cid, 0))) for r, cid, _ in cands),
            key=repr,
        )
        if got != kmeanspp:
            errs.append(f"production_fit: K-Means|| candidates/weights differ "
                        f"from the k13 oracle ({len(got)} vs {len(kmeanspp)} "
                        f"rows)")
        errs += ["production_fit: " + e for e in checks.fit_properties(
            last[FIT][1], _embeddings(self.data_dir), self.fit_tol)]
        return len(MIX) + 1, errs


def _embeddings(data_dir: str) -> np.ndarray:
    import pyarrow.parquet as pq

    col = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).column(
        "embedding"
    )
    return np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


WORKLOADS = {w.name: w for w in (LloydLarge, QueryMix)}
