"""Workload definitions: what each named workload runs, and why.

cube_interactive  The paper's own surface: reference-shaped Oec.getData /
                  getMembers / Engine.getDataMulti calls with small
                  results, so per-call fixed cost (construction, planning,
                  star joins, small AQE shuffles) dominates.
operator_pipeline One batch ETL job, session memos invalidated at job
                  start. It ingests the reference's wire responses (read
                  through the oecjson source, written through both layout
                  sinks, then cut queries the layouts can prune), then
                  runs heavy registered operators, where DataFrame
                  construction (memo staging, checkpoints, eager probes,
                  the streaming drain) dominates.
"""
import random

import cubes
import fixture

SF = 0.1
WARM_SF = 0.001

# Registered operators, in the order the job runs them after its ingest
# stage. The list is heavy registered ops whose DuckDB oracle checks in
# about a second at sf0.1, trimmed to a job that fits the benchmark's time
# budget (see README.md for the ops left out and why). q106 builds the
# LSH layout that q29 probes, so the session memo is shared inside the job.
PIPELINE_OPS = [
    "q106_lsh_index_build", "q29_embed_lsh_topk",   # ANN build -> probe
    "q141_perplexity_buckets",                      # corpus counts memo
    "q283_markov_stationary",                       # Markov fold
    "q54_stream_join",                              # streaming drain
]
# The operator module each op's construction lives in.
OP_MODULE = {
    "q106_lsh_index_build": "Similarity", "q29_embed_lsh_topk": "Similarity",
    "q141_perplexity_buckets": "Corpus",
    "q283_markov_stationary": "EventAnalytics",
    "q54_stream_join": "streaming",
}
MODULES = sorted(set(OP_MODULE.values()))

CUBE_BLOCKS = 30            # more calls than any run reaches
WARM_CALLS = 5

INGEST_ROWS = 150_000
INGEST_FILES = 8
WARM_INGEST_ROWS = 2_000


def readbacks(seed, n=8):
    """Cut queries over a written layout (view `layout`); the same SQL runs
    on the engine and, over the source rows, on DuckDB. Partition-column
    cuts prune directories; customer/price ranges prune z-ordered files."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        t = i % 4
        if t == 0:
            y = rng.randint(1995, 2001)
            sql = (f"SELECT order_status, CAST(count(*) AS BIGINT) AS n, "
                   f"round(sum(total_price), 2) AS value FROM layout "
                   f"WHERE year = {y} GROUP BY order_status")
            layout = "partitioned"
        elif t == 1:
            y1, y2 = rng.sample(range(1995, 2002), 2)
            s = rng.choice(fixture.STATUSES)
            sql = (f"SELECT order_priority, CAST(year AS BIGINT) AS year, "
                   f"CAST(count(*) AS BIGINT) AS n FROM layout "
                   f"WHERE year IN ({y1}, {y2}) AND order_status = '{s}' "
                   f"GROUP BY order_priority, year")
            layout = "partitioned"
        elif t == 2:
            a = rng.randint(0, INGEST_ROWS // 10 - 2000)
            sql = (f"SELECT CAST(count(*) AS BIGINT) AS n, round(sum(total_price), 2) AS value, "
                   f"max(order_id) AS max_order FROM layout "
                   f"WHERE customer_id BETWEEN {a} AND {a + 1500}")
            layout = "zorder"
        else:
            a = round(rng.uniform(1000.0, 480000.0), 2)
            sql = (f"SELECT order_status, CAST(count(*) AS BIGINT) AS n FROM layout "
                   f"WHERE total_price BETWEEN {a} AND {round(a + 15000.0, 2)} "
                   f"GROUP BY order_status")
            layout = "zorder"
        out.append({"name": f"readback_{i:02d}_{layout}", "layout": layout, "sql": sql})
    return out


def spec(workload, seed, data_dir, warm_dir, wire_dir, warm_wire_dir):
    """The workload part of the harness spec for `seed`."""
    if workload == "cube_interactive":
        return {"calls": cubes.calls(seed, CUBE_BLOCKS),
                "warm_calls": cubes.calls(seed + 1_000_003, 1)[:WARM_CALLS],
                "round_size": cubes.BLOCK_SIZE}
    if workload == "operator_pipeline":
        return {"ops": PIPELINE_OPS, "ingest": {
            "wire_dir": wire_dir, "warm_wire_dir": warm_wire_dir,
            "partition_col": "year", "sort_col": "order_date",
            "z_cols": ["customer_id", "total_price"], "z_files": 8,
            "readbacks": readbacks(seed)}}
    raise ValueError(workload)


WORKLOADS = ["cube_interactive", "operator_pipeline"]
