"""Cross-scale perf evidence (VERDICT r2 item #5): synthesize an
sf1-shaped dataset by shift-replicating sf0.1 ten times, run the
heaviest bench queries at both scales, and report per-query scaling
factors. The 100 TB story should rest on a measured decade of scaling,
not only on plan shapes.

Replication is id-SHIFTED per replica (new orderkeys, custkeys,
suppkeys, partkeys, event/user ids, doc ids, vec ids), so join/group
cardinalities scale linearly like real growth would. Document texts get
a per-replica token prefix so the near-dup structure replicates
per-replica instead of exploding cross-replica (10 exact copies of
every doc would manufacture O(replicas^2) candidate pairs — a workload
change, not a scale-up). Dimension tables region/nation stay fixed
(they are fixed in TPC-H at every sf).

Usage: python tools/scale_probe.py [replicas] [out_json]
Writes BENCH_SCALE.json at the repo root by default.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, ".")

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the heaviest bench queries, each representing one plan family
QUERIES = [
    "ingest_pipeline_full",   # parse + 5-way partitioned write fan-out
    "rpc_ingest_flatten",     # JSON parse + window + agg
    "overlapping_ranges",     # self-join on range overlap
    "q5_local_volume",        # multi-dim broadcast + fact-fact join
    "q21_sole_failing_supplier",  # per-orderkey collapsed EXISTS agg
    "q1_pricing_summary",     # full-scan agg (the scan-bound floor)
    # round-4 additions: the semantics-changed / new operators
    "semdedup",               # capped-cluster pairwise join — replicas
                              # share labels, so 10x data = 10x cluster
                              # sizes and the hyperplane cap must engage
    "ann_lsh_bucketed",       # multi-probe bucket join
    "msg_body_decode",        # pure-expression protobuf decode (scan-bound)
    "rpc_fetch_ingest",       # distributed fetch + parse
    "stream_event_counts",    # streaming drain (batch machinery + state)
    # round-5 additions
    "tx_envelope_decode",     # TxRaw fold decode (two persisted stages)
    "msg_multi_decode",       # multi-type dispatch + fallback
    "seed_subtract_overlaps", # interval subtraction, one window pass
    "gap_backfill_window",    # stripe-windowed islands + gate scalars
    # round-5 late additions (#156-171)
    "bpe_pair_stats",         # adjacent-pair explosion + map-side agg
    "heavy_hitters_topk",     # MG sketch pass + candidate-pruned recount
    "knn_graph_bucketed",     # all-nodes bucket join (see note: replicas
                              # are EXACT vector copies, so bucket density
                              # grows 10x and pair work ~100x — the
                              # worst-case load, not linear growth)
    "lttb_downsample",        # time-bucket argmax + 1-row bounds
    "ema_time_decay",         # (key,day) rollup + tiny contribution join
    "group_array_limited",    # rn-bounded collection, shared partitioning
    "curation_funnel",        # composed gopher/repetition/dedup funnel
    "jl_random_projection",   # pure narrow expression (scan floor)
    # round-5 final additions (#172-179)
    "quantile_exact_weighted",  # (key,value) pre-agg + same-key windows
    "winnowing_fingerprint",    # expression-land window-min + fp equi-join
    "asof_join_tolerance",      # one union, both carry directions
    "window_funnel_strict",     # one window with leads on the funnel stream
    "ttl_group_by_rollup",      # cutoff-split scan: agg branch + raw branch
    "heavy_hitters_weighted",   # weighted MG sketch + pruned recount
    # round-6 additions
    "msg_registry_decode",      # 4-type registry decode + persisted stages
    "segment_dedup_reassemble", # min-struct first-occurrence + reassembly
    "boilerplate_strip",        # per-source df pass + reassembly
    "ngram_novelty_decay",      # gram min-doc groupBy + join back
    "token_pmi_pairs",          # pair agg + two vocab equi-joins
    "conversion_attribution",   # one sorted window pass per user
    "max_intersections_daily",  # two-level striped sweep line
    "point_in_range_join",      # bucketed range join, left-join tail
    # round-6 late additions (#199-204)
    "stream_attribution",       # watermarked stream-stream interval join
    "stream_gap_detection",     # per-stripe bitmap state stream
    "zorder_layout",            # integer Morton interleave + span audit
    "compaction_binpack",       # 50-file synth + bin-packed rewrite
    "histogram_equal_depth",    # wide boundary agg + broadcast binning
    # round-6 statistics + decode-analytics additions (#205-216)
    "sequence_next_node",       # one user window pass + tiny share agg
    "cumulative_unique_users",  # first-seen groupBy + day-grain window
    "mann_whitney_u_pairs",     # pair fan-out + per-pair rank windows
    "spearman_rank_corr",       # user-grain doubled-rank windows
    "interval_length_sum",      # per-(user,day) union sweep
    "roc_auc_doc_length",       # global distinct-length rank window
    "token_flow_graph",         # two-stage wire decode + (from,to) agg
    "decontaminate_transform",  # broadcast bench join + source ledger
]


def build_scaled(dst: str, replicas: int) -> None:
    con = duckdb.connect()
    rp = lambda t: f"read_parquet('{SRC}/{t}.parquet')"  # noqa: E731
    n = {
        t: con.sql(f"SELECT max({k}) FROM {rp(t)}").fetchone()[0] + 1
        for t, k in [
            ("orders", "o_orderkey"), ("customer", "c_custkey"),
            ("supplier", "s_suppkey"), ("part", "p_partkey"),
            ("events", "event_id"), ("documents", "doc_id"),
            ("embeddings", "vec_id"),
        ]
    }
    uid = con.sql(f"SELECT max(user_id) FROM {rp('events')}").fetchone()[0] + 1
    os.makedirs(dst, exist_ok=True)
    for t in ("region", "nation"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    series = f"generate_series(0, {replicas - 1}) r(i)"
    copies = {
        "customer": f"""SELECT c_custkey + i*{n['customer']} AS c_custkey, c_name,
            c_nationkey, c_acctbal, c_mktsegment FROM {rp('customer')}, {series}""",
        "supplier": f"""SELECT s_suppkey + i*{n['supplier']} AS s_suppkey, s_name,
            s_nationkey, s_acctbal FROM {rp('supplier')}, {series}""",
        "part": f"""SELECT p_partkey + i*{n['part']} AS p_partkey, p_name, p_brand,
            p_type, p_size, p_retailprice FROM {rp('part')}, {series}""",
        "orders": f"""SELECT o_orderkey + i*{n['orders']} AS o_orderkey,
            o_custkey + i*{n['customer']} AS o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority FROM {rp('orders')}, {series}""",
        "lineitem": f"""SELECT l_orderkey + i*{n['orders']} AS l_orderkey,
            l_partkey + i*{n['part']} AS l_partkey,
            l_suppkey + i*{n['supplier']} AS l_suppkey, l_linenumber,
            l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
            l_linestatus, l_shipdate FROM {rp('lineitem')}, {series}""",
        "events": f"""SELECT event_id + i*{n['events']} AS event_id, ts,
            user_id + i*{uid} AS user_id, event_type, value, props
            FROM {rp('events')}, {series}""",
        "documents": f"""SELECT doc_id + i*{n['documents']} AS doc_id,
            CASE WHEN i = 0 THEN text ELSE 'r' || i || ' ' || text END AS text,
            lang, source, n_chars FROM {rp('documents')}, {series}""",
        "embeddings": f"""SELECT vec_id + i*{n['embeddings']} AS vec_id,
            embedding, label FROM {rp('embeddings')}, {series}""",
    }
    for t, q in copies.items():
        con.execute(
            f"COPY ({q}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    args = sys.argv[1:]
    merge_tier = "--merge-tier" in args
    args = [a for a in args if a != "--merge-tier"]
    replicas = int(args[0]) if args else 10
    out = args[1] if len(args) > 1 else "BENCH_SCALE.json"
    only = args[2:]  # optional query-name filter (the 30-100x tier
    # re-probes just the ops whose 10x factor exceeded 3x)
    from zigchain_indexer_clickhouse_spark.session import get_spark
    import __spark_entry__ as entry_mod

    dst = os.path.join(tempfile.gettempdir(), f"zic_scale_x{replicas}")
    if not os.path.exists(os.path.join(dst, "embeddings.parquet")):
        t0 = time.time()
        build_scaled(dst, replicas)
        print(f"# built {replicas}x dataset at {dst} in {time.time()-t0:.1f}s")

    spark = get_spark("scale-probe")
    qs = entry_mod.queries()
    probe_list = [q for q in QUERIES if not only or q in only]
    for q in only:
        if q not in QUERIES:
            probe_list.append(q)
    report = {"replicas": replicas, "base_sf_dir": SRC, "queries": {}}
    for name in probe_list:
        # warm up BOTH datasets before timing: a base-only warmup would
        # leave eviction-managed _shared_stage caches populated for the
        # base run and cold for the scaled run, inflating scale_factor
        # for shared-stage queries. Warming base-then-scaled leaves the
        # cache keyed to the scaled dir; the timed base run then evicts
        # and rebuilds, and the timed scaled run does the same — both
        # timed runs pay their own stage build, symmetrically.
        qs[name](spark, SRC).count()
        qs[name](spark, dst).count()
        times = {}
        for label, d in [("base", SRC), ("scaled", dst)]:
            # best-of-2 like bench.py: a single timed run is hostage to
            # shared-stage eviction/rebuild timing (tx_envelope_decode
            # measured 4x-12x across single-run probes; its warm decode
            # is linear)
            best, n_rows = float("inf"), 0
            for _ in range(2):
                t0 = time.time()
                n_rows = qs[name](spark, d).count()
                best = min(best, time.time() - t0)
            times[label] = round(best, 3)
            times[f"{label}_rows"] = n_rows
        factor = round(times["scaled"] / max(times["base"], 1e-9), 2)
        entry = {**times, "scale_factor": factor}
        if times["base_rows"]:
            entry["output_growth"] = round(
                times["scaled_rows"] / times["base_rows"], 1
            )
        if name == "knn_graph_bucketed":
            entry["note"] = (
                "replica embeddings are EXACT copies — the worst-case "
                "bucket-density load (10x denser buckets, ~100x naive pair "
                "work). The round-5 exact-duplicate collapse computes the "
                "graph once per DISTINCT vector and expands exactly, so "
                "wall tracks distinct density (pre-fix this row measured "
                "79.9x; the collapse is bit-exact, see "
                "tests/test_ann_graph_pq.py)"
            )
        report["queries"][name] = entry
        print(f"# {name}: base {times['base']}s -> scaled {times['scaled']}s "
              f"({factor}x for {replicas}x data)")
    # judge queries whose OUTPUT grew linearly on wall-clock alone;
    # output-superlinear queries (planted near-dup growth) are judged
    # on time-per-output-row instead
    def _summarize(queries: dict) -> dict:
        """The tier verdict over a query map — shared by the fresh-run
        and --merge-tier paths so a merged tier keeps a verdict and a
        recomputed superlinear map (the r8 merge dropped both), and an
        all-superlinear query set can't blow up an unguarded max()."""
        lin = {n: q for n, q in queries.items()
               if q.get("output_growth", 1.0) <= replicas}
        worst = max((q["scale_factor"] for q in lin.values()), default=0.0)
        superlin = {
            n: round(q["scale_factor"] / q["output_growth"], 3)
            for n, q in queries.items()
            if q.get("output_growth", 1.0) > replicas
        }
        return {
            "worst_scale_factor_linear_output": worst,
            "time_per_output_row_factor_superlinear_output": superlin,
            "verdict": (
                "sublinear-or-linear"
                if worst <= replicas * 1.2
                and all(v <= 1.2 for v in superlin.values())
                else "SUPERLINEAR"
            ),
        }

    report.update(_summarize(report["queries"]))
    worst = report["worst_scale_factor_linear_output"]
    if merge_tier and os.path.exists(out):
        # append this tier to the existing report instead of replacing
        # the canonical 10x sweep; re-probes of a subset deep-merge
        # into the tier's query map and the tier summary (worst /
        # superlinear / verdict) is recomputed over the MERGED set
        base = json.load(open(out))
        key = f"tier_{replicas}x"
        if key in base:
            merged = base[key]
            merged["queries"].update(report["queries"])
            merged.update(_summarize(merged["queries"]))
        else:
            base[key] = report
        report = base
    with open(out, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=2)
    print(json.dumps({"worst_scale_factor": worst, "out": out}))


if __name__ == "__main__":
    main()
