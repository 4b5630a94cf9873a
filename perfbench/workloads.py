"""The benchmark's workloads: what one timed unit of work is, how it is
checked, and which layer calls it is made of.

Every call into the program is wrapped in a span named after the layer it
enters (``plans.pipeline.blocking``, ``operators.set_sim_join``, ...); the
unit of work is the root span around them, so the named layer calls cover
the whole timed wall by construction.
"""

from __future__ import annotations

import shutil
import sys
import traceback
from pathlib import Path

import inputs as inp

PIPELINE_STAGES = ("extract", "blocking", "scoring", "clustering")
THRESHOLD = 0.6  # jaccard over whitespace tokens, the pipeline's default
MIN_F1 = 0.99


class Ctx:
    """Per-run state shared by a workload's steps."""

    def __init__(self, spark, spans, work: Path, cache: Path, size: str,
                 seed: int, n: int):
        self.spark, self.spans = spark, spans
        self.work, self.cache, self.size, self.seed, self.n = work, cache, size, seed, n
        self.attempted = 0
        self.failed = 0
        self.f1: list[float] = []
        self.errors: list[str] = []

    def fresh_dir(self, name: str) -> Path:
        d = self.work / name
        shutil.rmtree(d, ignore_errors=True)
        return d

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def _guarded(ctx: Ctx, what: str, fn):
    """Run one unit of work; a crash counts as a failed unit."""
    ctx.attempted += 1
    try:
        return fn()
    except Exception:  # the run goes on and reports the failure
        traceback.print_exc()
        ctx.fail(f"{what} raised")
        return None


class PagesLinkage:
    """A batch linkage run over the base crawl (extract -> blocking ->
    scoring -> clustering), then the ~5% crawl increment folded into it."""

    # A spark-submit user pays a cold JVM on every run, so one pass per
    # process is the unit, and its warm-up is timed.
    max_iterations = 1

    def make_inputs(self, ctx: Ctx) -> dict:
        self.inputs = inp.pages(ctx.work / "inputs", ctx.size, ctx.seed, ctx.n)
        return self.inputs.digest

    def input_rows(self) -> int:
        return self.inputs.digest["rows"]

    def prepare(self, ctx: Ctx) -> None:
        ctx.fresh_dir("linkage")

    def warm_up(self, ctx: Ctx) -> None:
        pass

    def iteration(self, ctx: Ctx):
        from py_stringsimjoin_spark.plans.pipeline import LinkagePipeline

        wd = ctx.fresh_dir("linkage")

        def read(name: str):
            with ctx.spans.span("spark.read.parquet", group=True):
                return ctx.spark.read.parquet(self.inputs.path(name)).drop("cluster_id")

        def run():
            with ctx.spans.span("pages_linkage.pass") as root:
                pipe = LinkagePipeline(ctx.spark, str(wd), threshold=THRESHOLD)
                base = read("base")
                for stage in PIPELINE_STAGES:
                    with ctx.spans.span(f"plans.pipeline.{stage}", group=True) as s:
                        m = pipe.extract(base) if stage == "extract" else getattr(pipe, stage)()
                    s.info["manifest"] = {k: m[k] for k in ("n_rows", "wall_sec")}
                delta = read("delta")
                with ctx.spans.span("plans.pipeline.increment", group=True):
                    pipe.increment(delta)
            return root

        root = _guarded(ctx, "pages_linkage pass", run)
        if root is not None:
            self.check(ctx, wd / "04_clusters", "pages_linkage pass")
        return root

    def check(self, ctx: Ctx, clusters_dir: Path, what: str) -> None:
        """Untimed: every page of base and increment clustered, pairwise F1
        >= 0.99 against the generator's ground truth on ``labeled_pairs``."""
        from py_stringsimjoin_spark.plans.pipeline import pairwise_f1
        from py_stringsimjoin_spark.sources.pages import labeled_pairs

        try:
            with ctx.spans.span("check", group=True):
                pages = ctx.spark.read.parquet(self.inputs.path("pages"))
                clusters = ctx.spark.read.parquet(str(clusters_dir))
                n_pages, n_clustered = pages.count(), clusters.count()
                f1 = pairwise_f1(clusters, labeled_pairs(pages))
        except Exception:  # a check that cannot run fails its unit
            traceback.print_exc()
            ctx.f1.append(0.0)
            ctx.fail(f"{what}: output check raised")
            return
        ctx.f1.append(f1)
        if n_clustered != n_pages or f1 < MIN_F1:
            ctx.fail(f"{what}: {n_clustered}/{n_pages} pages clustered, F1 {f1:.4f}")


class PartSweep:
    """The reference-API calls a library user makes in one session."""

    max_iterations = None

    def make_inputs(self, ctx: Ctx) -> dict:
        self.inputs = inp.part(ctx.cache, ctx.size, ctx.seed, ctx.work)
        return self.inputs.digest

    def input_rows(self) -> int:
        return len(inp.SWEEP) * self.inputs.digest["rows"]

    def prepare(self, ctx: Ctx) -> None:
        pass

    def warm_up(self, ctx: Ctx) -> None:
        # A library user holds the table as a DataFrame and pays the
        # session's first, cold sweep once; it is run and checked here but
        # not timed. (On a 4-core machine a warm-up over a tenth of the rows
        # cost nearly as much and left the first timed sweep ~1.5x slow.)
        with ctx.spans.span("spark.read.parquet", group=True):
            self.part = ctx.spark.read.parquet(self.inputs.path("part.parquet"))
        with ctx.spans.span("part_sweep.warm_up"):
            for measure, t in inp.SWEEP:
                self._checked_call(ctx, measure, t)

    def iteration(self, ctx: Ctx):
        with ctx.spans.span("part_sweep.sweep") as root:
            for measure, t in inp.SWEEP:
                self._checked_call(ctx, measure, t)
        return root

    def _call(self, ctx: Ctx, measure: str, t: float):
        """``<measure>_join(part, part)`` consumed by one aggregation:
        its (rows, order-independent row hash, score sum), and the output."""
        import py_stringsimjoin_spark as ssj
        from pyspark.sql import functions as F

        l_key, r_key = F.col("l_p_partkey"), F.col("r_p_partkey")
        row_hash = (l_key * inp.KEY_MUL + r_key) % inp.HASH_P * inp.HASH_MUL % inp.HASH_P
        score = F.floor(F.col("_sim_score") * inp.SCORE_SCALE).cast("long")
        layer = ("operators.edit_distance_join" if measure == "edit_distance"
                 else "operators.set_sim_join")
        args = (self.part, self.part, "p_partkey", "p_partkey", "p_name", "p_name")
        with ctx.spans.span(layer, call=f"{measure}_join(threshold={t})") as s:
            with ctx.spans.span("plan", group=True):
                if measure == "edit_distance":
                    out = ssj.edit_distance_join(*args, t)
                else:
                    fn = getattr(ssj, f"{measure}_join")
                    out = fn(*args, ssj.WhitespaceTokenizer(), t)
            with ctx.spans.span("exec", group=True):
                got = out.agg(F.count(F.lit(1)), F.sum(row_hash), F.sum(score)).first()
        s.info["rows"] = int(got[0])
        return [int(v or 0) for v in got], out

    def _checked_call(self, ctx: Ctx, measure: str, t: float) -> None:
        """One call, checked against the DuckDB oracle."""
        what = f"{measure}_join(threshold={t})"
        res = _guarded(ctx, what, lambda: self._call(ctx, measure, t))
        if res is None:
            return
        got, out = res
        want = self.inputs.expected[(measure, t)]
        if got == want:
            ctx.f1.append(1.0)
            return
        with ctx.spans.span("check", group=True):
            pairs = ctx.fresh_dir("mismatch")
            out.selectExpr("l_p_partkey AS l", "r_p_partkey AS r").write.parquet(str(pairs))
            ctx.f1.append(inp.pair_f1(pairs, self.inputs.dir / "part.parquet",
                                      measure, t, ctx.work))
        ctx.fail(f"{what}: got rows/hash/score-sum {got}, oracle {want}, "
                 f"pairwise F1 {ctx.f1[-1]:.4f}")


WORKLOADS = {
    "pages_linkage": PagesLinkage,
    "part_sweep": PartSweep,
}
