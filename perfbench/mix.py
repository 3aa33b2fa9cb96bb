"""``analytics_mix``: registered queries over the fixed sf0.01 tables,
each written to the noop sink.  A closed loop with one client; the seed
permutes the query order of every pass.

The first pass is untimed: it collects every query and hash-matches it
against ``__spark_entry__.oracle_sql()`` in DuckDB.
"""

from __future__ import annotations

import os
import random

from common import canon, duck_canon, loop_passes, median, pass_median

#: Queries by the operator module that does their work: one per module,
#: the cheapest that keeps the module's code path (the 16-query set does
#: not fit the run budget; see README.md).
MODULES = {
    "relational": ["q01_pricing_summary"],
    "timeseries": ["q22_resample_count"],
    "stats": ["q242_bradley_terry"],
    "dedup": ["q37_simhash"],
    "graph": ["q272_link_prediction"],
}
#: Graph queries also reported one by one (by short id).
GRAPH_QUERIES = [q.split("_")[0] for q in MODULES["graph"]]

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")
#: The tables the queries above read.
TABLES = ["documents", "events", "lineitem"]


def _warmup_and_check(ctx, queries, oracles, order) -> None:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(DATA, t)}.parquet'")
    for name in order:
        ctx.spark.catalog.clearCache()
        out = None
        with ctx.ops.op(name):
            df = queries[name](ctx.spark, DATA)
            out = canon(df.collect(), df.columns)
        if out is not None:
            ctx.guarded(f"{name} oracle", _check_one, ctx, con,
                        oracles[name], name, out)
    con.close()


def _check_one(ctx, con, sql, name, got) -> None:
    want = duck_canon(con, sql)
    ctx.ops.check(got == want, f"{name} {got} != oracle {want}")


def _one_pass(ctx, queries, order) -> None:
    spark, ops = ctx.spark, ctx.ops
    for name in order:
        spark.catalog.clearCache()
        with ops.op(name, group=False):
            with ops.phase(f"{name}.construct"):
                df = queries[name](spark, DATA)
            if ctx.tracer.enabled:
                # Planning is forced only in the traced run.
                with ops.phase(f"{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
            with ops.phase(f"{name}.execute"):
                df.write.format("noop").mode("overwrite").save()


def run(ctx) -> None:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = [q for qs in MODULES.values() for q in qs]
    rng = random.Random(ctx.seed)

    # Untimed warm-up: the oracle pass (collect), the slowest pass of a
    # process (JIT, codegen).  Further noop warm-up passes would take the
    # time the run budget leaves for measured passes (see README.md).
    with ctx.tracer.paused():
        _warmup_and_check(ctx, queries, oracles,
                          rng.sample(names, len(names)))
    ctx.ops.latency.clear()
    ctx.log("oracle pass done")

    plain, traced = loop_passes(
        ctx.seconds, ctx.tracer,
        lambda: _one_pass(ctx, queries, rng.sample(names, len(names))))
    passes = plain or traced
    ctx.log("passes measured: "
            + " ".join(f"{x:.2f}" for x in plain + traced) + " s")
    ctx.e2e["pass_s"] = median(passes)
    lat = ctx.ops.latency
    ctx.e2e["op_p50_s"] = pass_median(lat)
    ctx.notes += [
        ("mix_s", median(passes), "s"),
        ("query_p50_s", ctx.e2e["op_p50_s"], "s"),
        ("query_samples", sum(len(v) for v in lat.values()), "count"),
        ("passes", len(passes), "count"),
    ]
    if ctx.tracer.enabled:
        ctx.trace_overhead(plain, traced)
        ctx.finishers.append(lambda ev: _layers(ctx, ev))


def _layers(ctx, ev) -> None:
    groups, tracer, L = ctx.ops.groups, ctx.tracer, ctx.layers

    def per_pass(names, value):
        """Median over traced passes of the per-pass sum of ``value``
        over the query phases ``names``."""
        series = [[value(x) for x in groups.get(n, [])] for n in names]
        n_pass = min((len(s) for s in series), default=0)
        return median(sum(s[i] for s in series) for i in range(n_pass))

    def spans(names):
        series = [tracer.durations(n) for n in names]
        n_pass = min((len(s) for s in series), default=0)
        return median(sum(s[i] for s in series) for i in range(n_pass))

    def phases(qs, *ps):
        return [f"{q}.{p}" for q in qs for p in ps]

    all_p = ("construct", "plan", "execute")
    for module, qs in MODULES.items():
        m = f"mix.{module}"
        for p in all_p:
            L[f"{m}.{p}_s"] = spans(phases(qs, p))
        L[f"{m}.jobs"] = per_pass(phases(qs, *all_p), lambda x: x[1])
        L[f"{m}.eager_jobs"] = per_pass(phases(qs, "construct"),
                                        lambda x: x[1])
        L[f"{m}.stages"] = per_pass(phases(qs, *all_p), lambda x: x[2])
        for f in ("shuffle_bytes", "spill_bytes"):
            L[f"{m}.{f}"] = per_pass(phases(qs, *all_p),
                                     lambda x, f=f: ev.group(x[0])[f])
    for q in MODULES["graph"]:
        short = q.split("_")[0]
        L[f"mix.{short}.construct_s"] = spans([f"{q}.construct"])
        L[f"mix.{short}.execute_s"] = spans([f"{q}.execute"])
        L[f"mix.{short}.jobs"] = per_pass(phases([q], *all_p),
                                          lambda x: x[1])
        L[f"mix.{short}.eager_jobs"] = per_pass([f"{q}.construct"],
                                                lambda x: x[1])
