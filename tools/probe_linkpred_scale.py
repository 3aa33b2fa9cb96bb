"""Time ``link_prediction`` on a graph big enough to measure.

At sf0.1 the candidate-pair set is small, so the operator's run time
is fixed per-job cost.  This probe builds a bipartite graph whose
candidate set is large:

    edges = range(N).select(xxhash64(id) % M as src,
                            M + xxhash64(id+7) % M as dst)

Degrees are Poisson(~N/M) with no zipf hot key, so the wedge join is
skew-free.  With N=5M, M=625k (avg degree 8/16 per side) the wedge
mass is ~10^8 and the distinct candidate-pair set ~10^7 rows.  The
query is written to the noop sink; round 0 is a warm-up and is
discarded.

Usage: python tools/probe_linkpred_scale.py [N_edges] [M_nodes_per_side]
Env:   PROBE_RUNS (default 3).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    m_nodes = int(sys.argv[2]) if len(sys.argv) > 2 else 625_000

    from btc_usdt_etl_pipeline_spark.operators.graph import link_prediction
    from btc_usdt_etl_pipeline_spark.session import build_session

    spark = build_session(
        "probe-linkpred-scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    edges = spark.range(n_edges).select(
        (F.xxhash64("id") % m_nodes).alias("src"),
        (F.lit(m_nodes) + F.xxhash64(F.col("id") + 7) % m_nodes).alias(
            "dst"
        ),
    )

    n_runs = int(os.environ.get("PROBE_RUNS", "3"))
    samples: list[float] = []
    for rnd in range(n_runs):
        spark.sparkContext.setJobDescription(f"linkpred-scale r{rnd}")
        t0 = time.time()
        link_prediction(edges, top_k=20).write.mode("overwrite").format(
            "noop"
        ).save()
        el = time.time() - t0
        spark.catalog.clearCache()
        if rnd > 0:
            samples.append(el)
        print(f"  round {rnd}: {el:.2f}s", flush=True)
    if samples:
        print(
            json.dumps(
                {
                    "median": round(statistics.median(samples), 3),
                    "all": [round(x, 2) for x in samples],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
